package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EtlSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write -> filter prunes partitions at the scan") {
    val dir = tempDir("graft-etl") + "/events_p"
    val events = spark.read.parquet(s"$sf0001/events.parquet")
    Etl.writePartitioned(events, dir, "event_type")
    // hive-style layout on disk
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("event_type=")), dirs.mkString(","))
    val filtered = spark.read.parquet(dir).filter($"event_type" === "click")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning:\n$plan")
    assert(filtered.count() ==
      events.filter($"event_type" === "click").count())
  }

  test("sorted write enables row-group stats; data round-trips completely") {
    val dir = tempDir("graft-etl") + "/orders_s"
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    Etl.writeSortedParquet(orders, dir, "o_orderkey", files = 2)
    val back = spark.read.parquet(dir)
    assert(back.count() == orders.count())
    // within each file rows are clustered by key (stats-skippable)
    val perFile = back.select(input_file_name().as("f"), $"o_orderkey")
      .groupBy("f").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect()
    assert(perFile.length == 2)
  }

  test("compact reduces file count without losing rows") {
    val base = tempDir("graft-etl")
    val many = s"$base/many"
    val one = s"$base/one"
    spark.read.parquet(s"$sf0001/lineitem.parquet").repartition(16)
      .write.parquet(many)
    assert(new java.io.File(many).listFiles().count(_.getName.endsWith(".parquet")) == 16)
    Etl.compact(spark, many, one, 1)
    assert(new java.io.File(one).listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(one).count() == spark.read.parquet(many).count())
  }

  test("all bundled formats round-trip losslessly (parquet/orc/csv/json)") {
    import org.apache.spark.sql.functions._
    val base = tempDir("graft-fmt")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val want = src.orderBy("n_nationkey").collect().toSeq
    Seq("parquet", "orc", "json").foreach { fmt =>
      src.write.format(fmt).save(s"$base/$fmt")
      val got = spark.read.format(fmt).load(s"$base/$fmt")
        .select("n_nationkey", "n_name", "n_regionkey") // json reorders cols
        .orderBy("n_nationkey").collect().toSeq
      assert(got == want, s"$fmt round-trip mismatch")
    }
    // csv needs schema on read (header carries names, not types)
    src.write.option("header", "true").csv(s"$base/csv")
    val gotCsv = spark.read.option("header", "true").schema(src.schema)
      .csv(s"$base/csv").orderBy("n_nationkey").collect().toSeq
    assert(gotCsv == want, "csv round-trip mismatch")
  }

  test("schema evolution: mergeSchema unifies batches written with added columns") {
    // the 100 TB operational reality: a pipeline adds a column mid-corpus
    // and historical files must keep reading (nulls), not fail or drop
    val dir = tempDir("graft-evolve") + "/t"
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir + "/batch=0")
    Seq((2L, "b", 10L)).toDF("id", "v1", "v2").write.parquet(dir + "/batch=1")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("batch", "id", "v1", "v2"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v2")), "old files must read v2 as null")
    assert(rows(1).getAs[Long]("v2") == 10L)
  }

  test("malformed JSON rows are quarantined in _corrupt_record, not silently dropped") {
    val dir = tempDir("graft-corrupt")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2 "v": BROKEN
        |{"id": 3, "v": "fine"}
        |""".stripMargin)
    val df = spark.read
      .schema("id LONG, v STRING, _corrupt_record STRING")
      .json(dir).cache() // corrupt-record queries need a materialized pass
    try {
      assert(df.count() == 3, "row count must include the quarantined line")
      assert(df.filter($"_corrupt_record".isNotNull).count() == 1)
      assert(df.filter($"id" === 3 && $"v" === "fine").count() == 1,
        "rows after a corrupt line must still parse")
    } finally df.unpersist()
  }

  test("zValue interleaves bits; writeZOrdered clusters both columns per file") {
    import org.apache.spark.sql.functions._
    // z(1,2): a bit0 -> pos0 (1), b bit1 -> pos3 (8) => 9; z(3,3) => 15
    val zs = Seq((1L, 2L), (3L, 3L)).toDF("a", "b")
      .select(Etl.zValue(col("a"), col("b"))).collect().map(_.getLong(0))
    assert(zs.toSeq == Seq(9L, 15L))
    val dir = tempDir("graft-z")
    val df = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Etl.writeZOrdered(df, s"$dir/z", "o_custkey", "o_orderkey", files = 4)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == df.count())
    // clustering property (deterministic): each output file covers a
    // DISJOINT z-interval — range partitioning + in-file sort means file
    // min/max z stats are non-overlapping, which is exactly what lets a
    // reader skip files on a z-prefix predicate. (A per-file span-vs-
    // global assert on one source column is probabilistic: range
    // boundaries come from seeded sampling and occasionally no file
    // lands strictly below the global span — observed flake.)
    val zOf = Etl.zValue(col("o_custkey"), col("o_orderkey"))
    val intervals = back.groupBy(input_file_name())
      .agg(min(zOf).as("lo"), max(zOf).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(intervals.length >= 2, "expected multiple clustered files")
    intervals.sliding(2).foreach { case Array((_, hiA), (loB, _)) =>
      assert(hiA <= loB, s"file z-intervals overlap: $intervals")
    }
    // data-skipping evidence on the dominant z column: some file covers
    // a strictly narrower orderkey range than the table
    val okSpans = back.groupBy(input_file_name())
      .agg((max("o_orderkey") - min("o_orderkey")).as("span"))
      .collect().map(_.getLong(1))
    val okGlobal = df.agg(max("o_orderkey") - min("o_orderkey")).head.getLong(0)
    assert(okSpans.min < okGlobal,
      s"no file clustered below the global orderkey span $okGlobal")
  }

  test("writeShuffled: sequential file-order read == the global md5 permutation") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-shuf")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").select("doc_id")
    Etl.writeShuffled(docs, s"$dir/s", "doc_id", "seed7", files = 4)
    def h(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id|seed7".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // expected: ids in md5(id|salt) order — ONE deterministic permutation
    val expected = docs.collect().map(_.getLong(0)).sortBy(h)
    // actual: part files in name order, rows in file order
    val fs = new java.io.File(s"$dir/s").listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(fs.length >= 2, "expected multiple shuffled files")
    val actual = fs.flatMap(f =>
      spark.read.parquet(f.getPath).collect().map(_.getLong(0)))
    assert(actual.toSeq == expected.toSeq,
      "sequential read must reproduce the md5 permutation")
    // reproducibility: a rewrite lays out byte-identical file contents
    Etl.writeShuffled(docs, s"$dir/s2", "doc_id", "seed7", files = 4)
    val again = new java.io.File(s"$dir/s2").listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => spark.read.parquet(f.getPath).collect().map(_.getLong(0)))
    assert(again.toSeq == actual.toSeq, "same salt must mean same layout")
  }
}
