package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation (incl. a hot key)") {
    // hot key: 90% of rows share one key
    val df = (1 to 10000).map(i =>
      (if (i % 10 == 0) s"k${i % 50}" else "hot", i.toDouble)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Scale.saltedSumCount(df, "k", "v")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == plain)
  }

  test("bucketed tables join without an exchange on the join key") {
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val c = spark.read.parquet(s"$sf0001/customer.parquet")
    Scale.writeBucketed(o.withColumnRenamed("o_custkey", "custkey"), "orders_b", "custkey", 8)
    Scale.writeBucketed(c.withColumnRenamed("c_custkey", "custkey"), "customer_b", "custkey", 8)
    // disable broadcast to force the join strategy decision on bucketing
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b").join(spark.table("customer_b"), "custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == o.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  /** Runs `body` with the scan's range exchange at exactly `parts`
    * partitions (AQE coalescing off), restoring the session conf after.
    */
  private def withRangePartitions[T](parts: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), parts.toLong)
    spark.conf.set(keys(1), "false")
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val running = Window.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  test("scan Sum equals the single-partition running-sum window") {
    val df = new scala.util.Random(7).shuffle((1 to 3000).toList)
      .map(i => (i.toLong, (i % 97).toLong)).toDF("k", "v")
      .repartition(11)
    val want = df.withColumn("cum", sum("v").over(running.orderBy("k")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    withRangePartitions(8) {
      val (out, Seq(total)) = Scale.scan(df, Seq("k"), Scale.Sum("v", "cum"))
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap == want)
      assert(total == (1 to 3000).map(_ % 97).sum)
      // and the distributed form really is distributed: >1 partition
      assert(out.rdd.getNumPartitions > 1)
    }
  }

  test("one fused scan (Sum, Max, RowNumber) equals three windows, across partitions") {
    // composite tie-free order (g, id); values straddle zero and the
    // first rows in order are all negative, so a Max seeded at 0 (or an
    // offset that includes its own partition) shows
    val rnd = new scala.util.Random(41)
    val rows = rnd.shuffle((1L to 2400L).toList).map { id =>
      (id % 5, id, if (id % 5 == 0 && id < 400) -1000L - id
        else rnd.nextInt(2001).toLong - 1000L)
    }
    val df = rows.toDF("g", "id", "v").repartition(13)
    val w = running.orderBy("g", "id")
    val want = df.select(col("g"), col("id"), sum("v").over(w).as("s"),
        max("v").over(w).as("m"), row_number().over(w).cast("long").as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    withRangePartitions(8) {
      val (out, totals) = Scale.scan(df, Seq("g", "id"),
        Scale.Sum("v", "s"), Scale.Max("v", "m"), Scale.RowNumber("r"))
      assert(out.columns.toSeq == Seq("g", "id", "v", "s", "m", "r"))
      assert(out.rdd.getNumPartitions > 1)
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == want)
      assert(totals == Seq(rows.map(_._3).sum, rows.map(_._3).max, rows.size.toLong))
    }
  }

  test("globalRank equals the global row_number window (composite order)") {
    val df = new scala.util.Random(3).shuffle((1 to 2000).toList)
      .map(i => (i.toLong, (i % 13).toLong)).toDF("id", "grp")
      .repartition(9)
    val w = Window.orderBy($"grp".desc, $"id")
    val want = df.withColumn("r", row_number().over(w).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Scale.globalRank(df.withColumn("_ng", -$"grp"), "r", "_ng", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == want)
  }

  test("equiDepthBins equals the ntile window, including uneven and tiny sizes") {
    // sizes probing every branch of the closed-form rule: n % bins == 0,
    // n % bins != 0, n < bins (each row its own bin), n == 1
    for ((n, bins) <- Seq((1000, 10), (997, 10), (7, 10), (1, 10), (64, 8))) {
      val df = (1 to n).map(i => ((i * 7919) % 2711, i.toLong))
        .toDF("v", "id")
      val w = org.apache.spark.sql.expressions.Window.orderBy("v", "id")
      val want = df.withColumn("bin", ntile(bins).over(w))
        .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
      val got = Scale.equiDepthBins(df, bins, "v", "id")
        .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
      assert(got == want, s"n=$n bins=$bins diverged from ntile")
    }
  }

  test("saltedJoin equals the plain join on a hot-key corpus") {
    // hot key: 90% of fact rows hit one dim key
    val fact = (1 to 5000).map(i =>
      (if (i % 10 == 0) i % 37 else 7, i)).toDF("k", "v")
    val dim = (0 until 37).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, "k")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Scale.saltedJoin(fact, dim, "k", salts = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted == plain)
  }

  test("hashSplit: proportional, deterministic, append-stable, and narrow") {
    val splits = Seq("train" -> 8000, "val" -> 1000, "test" -> 1000)
    val df = spark.range(10000).select($"id")
    val out = Scale.hashSplit(df, "id", "s1", splits)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // binomial sd at n=10000, p=0.8 is ~40; ±5σ bounds
    assert(math.abs(counts("train") - 8000) < 200, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 1000) < 150, s"val=${counts("val")}")
    assert(math.abs(counts("test") - 1000) < 150, s"test=${counts("test")}")
    // pure function of (id, salt): recomputation identical, and the
    // assignment of any subset equals the full corpus's (append never
    // re-homes existing rows — the property that matters operationally)
    val full = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val subset = Scale.hashSplit(
        spark.range(1000).select($"id"), "id", "s1", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(subset.forall { case (id, s) => full(id) == s })
    // the bucket is md5Long(id|salt) mod 10000 — the driver replay gives
    // every row's split from the weights
    val off = full.filterNot { case (id, s) =>
      val b = graft.HashReplay.md5Long(s"$id|s1") % 10000
      s == (if (b < 8000) "train" else if (b < 9000) "val" else "test")
    }
    assert(off.size == 0, s"rows off the md5Long bucket, e.g. ${off.take(3)}")
    // a different salt reshuffles (some rows must move)
    val other = Scale.hashSplit(df, "id", "s2", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(full.exists { case (id, s) => other(id) != s })
    // narrow: no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hashSplit shuffled:\n$plan")
    // malformed weights refuse loudly
    intercept[IllegalArgumentException] {
      Scale.hashSplit(df, "id", "s", Seq("a" -> 5000, "b" -> 4000))
    }
  }

  test("winsorize: exact ceil-rank boundaries, ties and degenerate permilles") {
    // values 1..100, lo=5% -> k=5 -> boundary 5; hi=95% -> k=95 -> 95
    val df = (1L to 100L).map(v => (v, v)).toDF("v", "id")
    val w = Scale.winsorize(df, "v", 50, 950, "id")
      .select("v", "v_w").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(1L) == 5L && w(4L) == 5L && w(5L) == 5L, s"low clamp: ${w(1L)}")
    assert(w(96L) == 95L && w(100L) == 95L, "high clamp")
    assert(w(50L) == 50L, "interior values untouched")

    // all-equal values: boundaries equal the value, clamp is identity
    val flat = (1L to 10L).map(i => (7L, i)).toDF("v", "id")
    val fw = Scale.winsorize(flat, "v", 100, 900, "id")
      .select("v_w").collect().map(_.getLong(0)).toSet
    assert(fw == Set(7L))

    // permille 0/1000: k clamps to [1, n] -> full range, identity
    val idy = Scale.winsorize(df, "v", 0, 1000, "id")
      .select("v", "v_w").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(idy.forall { case (a, b) => a == b })
  }

  test("waterFill: exact budget conservation, caps honored, fair shares within 1") {
    def fill(caps: Seq[(String, Long)], budget: Long) = {
      val out = Scale.waterFill(caps.toDF("source", "cap"),
        Seq(budget).toDF("budget")).collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      val byName = out.toMap
      val capMap = caps.toMap
      // caps echoed; never over-allocate a source
      byName.foreach { case (s, (cap, alloc, _, _)) =>
        assert(cap == capMap(s) && alloc <= cap && alloc >= 0, s"source $s") }
      val total = out.map(_._2._2).sum
      val unalloc = out.head._2._4
      assert(total == math.min(budget, caps.map(_._2).sum),
        s"sum=$total budget=$budget caps=${caps.map(_._2).sum}")
      assert(unalloc == math.max(0L, budget - caps.map(_._2).sum))
      // unsaturated sources get equal shares within 1 token
      val unsat = out.filter(_._2._3 == 0L).map(_._2._2)
      if (unsat.nonEmpty) assert(unsat.max - unsat.min <= 1L, unsat.toSeq)
      // saturated sources contribute everything
      out.filter(_._2._3 == 1L).foreach { case (s, (cap, alloc, _, _)) =>
        assert(alloc == cap, s"saturated $s under-filled") }
      byName
    }
    // generic mix: small sources saturate, big ones split the rest
    fill(Seq("a" -> 10L, "b" -> 100L, "c" -> 1000L, "d" -> 1000L), 600L)
    // budget exceeds capacity: everything saturates, surplus reported
    fill(Seq("a" -> 5L, "b" -> 7L), 100L)
    // zero budget / zero caps / single source
    fill(Seq("a" -> 5L, "b" -> 7L), 0L)
    fill(Seq("a" -> 0L, "b" -> 9L), 4L)
    fill(Seq("solo" -> 42L), 10L)
    // equal caps with a non-divisible budget: +1s go to the first in order
    val eq = fill(Seq("a" -> 50L, "b" -> 50L, "c" -> 50L), 100L)
    assert(eq("a")._2 + eq("b")._2 + eq("c")._2 == 100L)
    assert(eq.values.map(_._2).toSeq.sorted == Seq(33L, 33L, 34L))
    // randomized sweep vs a sequential reference water level
    val rnd = new scala.util.Random(3)
    (1 to 8).foreach { _ =>
      val caps = (1 to 12).map(i => s"s$i" -> rnd.nextInt(500).toLong)
      val budget = rnd.nextInt(4000).toLong
      val got = fill(caps, budget)
      // reference: raise the level one token at a time
      var remaining = math.min(budget, caps.map(_._2).sum)
      val alloc = scala.collection.mutable.Map(caps.map(c => c._1 -> 0L): _*)
      while (remaining > 0) {
        val open = caps.filter(c => alloc(c._1) < c._2)
          .sortBy(c => (c._2, c._1)) // +1 order: (cap, source)
        val take = open.take(math.min(remaining, open.size.toLong).toInt)
        take.foreach(c => alloc(c._1) += 1)
        remaining -= take.size
      }
      assert(got.view.mapValues(_._2).toMap == alloc.toMap,
        s"caps=$caps budget=$budget")
    }
  }

  test("scan Max == window cummax, under any partition count") {
    val rnd = new scala.util.Random(29)
    val rows = (1L to 3000L).map(i => (i, rnd.nextInt(100000).toLong))
    val df = rows.toDF("id", "v").repartition(17)
    def cummax() = Scale.scan(df, Seq("id"), Scale.Max("v", "cm"))._1
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // single-partition window reference (fine at spec scale)
    val want = rows.toDF("id", "v")
      .withColumn("cm", max("v").over(running.orderBy("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cummax() == want)
    // and with a forced tiny partition count (seed-carry across parts)
    assert(withRangePartitions(3)(cummax()) == want)
  }
}
