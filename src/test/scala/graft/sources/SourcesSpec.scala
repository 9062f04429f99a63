package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.mr.TextCorpus
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's committed golden word-count output. */
  private def golden = TextCorpus.reference.golden

  test("kvtext reads the reference's golden output identically to a text+split parse") {
    val viaSource = spark.read.format("kvtext").load(golden)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val viaText = spark.read.text(golden)
      .select(col("value").as("line"))
      .collect().map { r =>
        val line = r.getString(0)
        val cut = line.lastIndexOf(' ')
        if (cut < 0) (line, "") else (line.substring(0, cut), line.substring(cut + 1))
      }.toSeq
    assert(viaSource.length == 22107)
    assert(viaSource.sorted == viaText.sorted)
    assert(spark.read.format("kvtext").load(golden).schema.fieldNames.toSeq ==
      Seq("key", "value"))
  }

  test("kvtext honors column pruning down to the scan") {
    // each corpus's `mymrout`-format word count: the sequential oracle's
    // over the generated stand-in, the reference's committed golden
    TextCorpus.each { c =>
      val df = spark.read.format("kvtext").load(c.golden).select("value")
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      assert(scan.output.map(_.name) == Seq("value"),
        s"scan must read only the requested column, got ${scan.output}")
      // pruned read still parses correctly (counts are numeric)
      val vals = df.limit(100).collect().map(_.getString(0))
      assert(vals.nonEmpty && vals.forall(_.forall(_.isDigit)))
    }
  }

  test("kvtext resolves globs, directories, and value-less lines") {
    val dir = new java.io.File(tempDir("kvtext"))
    Files.writeString(new java.io.File(dir, "mr-out-0").toPath,
      "alpha 1\nbeta 2\n")
    Files.writeString(new java.io.File(dir, "mr-out-1").toPath,
      "gamma 3\nnovalue\nmulti word key 9\n")
    def rows(path: String) = spark.read.format("kvtext").load(path)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = Set(
      ("alpha", "1"), ("beta", "2"), ("gamma", "3"),
      ("novalue", ""), ("multi word key", "9"))
    assert(rows(s"$dir/mr-out-*") == expected, "glob read")
    assert(rows(dir.toString) == expected, "directory read")
    // file-grain parallelism: one partition per shard
    assert(spark.read.format("kvtext").load(s"$dir/mr-out-*").rdd
      .getNumPartitions == 2)
  }

  test("kvtext byte-range splits: exact row parity at any split size") {
    TextCorpus.each { c =>
      val whole = spark.read.format("kvtext").load(c.golden)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      // tiny ranges force many splits whose boundaries land mid-line
      for (splitBytes <- Seq(1000, 7777, 65536)) {
        val df = spark.read.format("kvtext")
          .option("maxSplitBytes", splitBytes.toString).load(c.golden)
        assert(df.rdd.getNumPartitions > 1, s"splitBytes=$splitBytes did not split")
        val rows = df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        assert(rows == whole,
          s"splitBytes=$splitBytes dropped or duplicated lines " +
            s"(${rows.length} vs ${whole.length})")
      }
    }
  }

  test("kvtext V2 write: mr-out-N shards, atomic rename commit, clean temp dir") {
    val dir = tempDir("kvtext-w") + "/out"
    val df = Seq(("b", "2"), ("a", "1"), ("c", "3"), ("d", "4"))
      .toDF("key", "value").repartition(2)
    df.write.format("kvtext").mode("append").save(dir)
    // visible data files only — the local FS adds .crc companions and
    // Hadoop convention treats _/. names as metadata (the reader's rule)
    def shards() = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    assert(shards() == Seq("mr-out-0", "mr-out-1"),
      s"expected the reference's shard naming, got ${shards()}")
    val back = spark.read.format("kvtext").load(dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("a", "1"), ("b", "2"), ("c", "3"), ("d", "4")))
    // overwrite truncates the previous shards; temp tree never survives
    Seq(("x", "9")).toDF("key", "value").coalesce(1)
      .write.format("kvtext").mode("overwrite").save(dir)
    val after = spark.read.format("kvtext").load(dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(after == Set(("x", "9")))
    assert(shards() == Seq("mr-out-0"), s"truncate left stale shards: ${shards()}")
    assert(!new java.io.File(dir, "_temporary").exists,
      "commit must sweep the temp tree")
    // schema contract: compatible types are CAST by Spark's write
    // analysis to the table schema; an incompatible shape is rejected
    intercept[Exception] {
      Seq((1, "x", "y")).toDF("a", "b", "c")
        .write.format("kvtext").mode("append").save(dir)
    }
  }

  test("kvtext write survives induced task retry with exactly-once shards") {
    // the session runs with maxFailures=2: crash attempt 0 of partition 0
    // post-row-write; the retry must produce the same single visible shard
    val dir = tempDir("kvtext-r") + "/out"
    val src = Seq(("a", "1"), ("b", "2")).toDF("key", "value").coalesce(1)
      .as[(String, String)]
      .mapPartitions { it =>
        val rows = it.toSeq
        if (org.apache.spark.TaskContext.get().attemptNumber() == 0)
          throw new RuntimeException("induced attempt-0 crash")
        rows.iterator
      }.toDF("key", "value")
    src.write.format("kvtext").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    assert(files == Seq("mr-out-0"), s"retry must not duplicate shards: $files")
    val back = spark.read.format("kvtext").load(dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("a", "1"), ("b", "2")))
  }

  test("kvtext micro-batch tail: each new shard arrives exactly once, in one batch") {
    val dir = tempDir("kvtext-s") + "/out"
    new java.io.File(dir).mkdirs()
    val q = spark.readStream.format("kvtext").load(dir)
      .writeStream.format("memory").queryName("kvtail")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // empty tail is a valid (zero-batch) state
      assert(spark.table("kvtail").count() == 0)
      // first producer job commits through the kvtext write protocol
      Seq(("a", "1"), ("b", "2")).toDF("key", "value").coalesce(1)
        .write.format("kvtext").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("kvtail").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet ==
        Set(("a", "1"), ("b", "2")))
      // a later shard with a lexicographically higher name tails in;
      // the earlier shard is NOT re-read (seen-set offset)
      Files.writeString(new java.io.File(dir, "mr-out-9").toPath, "c 3\n")
      q.processAllAvailable()
      val rows = spark.table("kvtail").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows.size == 3 && rows.toSet ==
        Set(("a", "1"), ("b", "2"), ("c", "3")),
        s"tail must deliver each shard exactly once, got $rows")
      // shard names are NOT monotone in commit order: 'mr-out-10' sorts
      // BELOW the already-seen 'mr-out-9', so a high-watermark-by-name
      // offset would silently drop it — the seen-set offset must not
      Files.writeString(new java.io.File(dir, "mr-out-10").toPath, "d 4\n")
      q.processAllAvailable()
      val rows2 = spark.table("kvtail").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows2.size == 4 && rows2.toSet ==
        Set(("a", "1"), ("b", "2"), ("c", "3"), ("d", "4")),
        s"a shard sorting below the last-seen name must still arrive, got $rows2")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS kvtail")
    }
  }

  test("kvtext byte-range splits: exact parity on CRLF line endings") {
    // CRLF terminators consume 2 bytes per line; the reader's split
    // accounting must count raw bytes or a split runs past its end into
    // lines the next split also owns (duplicates)
    val dir = new java.io.File(tempDir("kvtext-crlf"))
    val lines = (0 until 500).map(i => s"key$i ${i * 3}")
    Files.writeString(new java.io.File(dir, "mr-out-0").toPath,
      lines.mkString("\r\n") + "\r\n")
    val expected = lines.map { l =>
      val cut = l.lastIndexOf(' '); (l.substring(0, cut), l.substring(cut + 1))
    }.sorted
    for (splitBytes <- Seq(64, 777, 4096)) {
      val got = spark.read.format("kvtext")
        .option("maxSplitBytes", splitBytes.toString).load(dir.toString)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == expected,
        s"splitBytes=$splitBytes on CRLF dropped or duplicated lines " +
          s"(${got.length} vs ${expected.length})")
    }
  }

  test("kvtext offset JSON round-trips arbitrary paths") {
    val sets = Seq(
      Set.empty[String],
      Set("/tmp/out/mr-out-0"),
      Set("a b", "quo\"te", "back\\slash", "new\nline", "mr-out-10", "mr-out-9"))
    sets.foreach { s =>
      val enc = KvTextOffset(s).json()
      assert(KvTextOffset.parse(enc) == s, s"round-trip failed for $s: $enc")
    }
  }

  test("kvtext round-trips the engine's own MapReduce text sink") {
    val out = tempDir("kvtext-rt") + "/wc"
    Seq(("b", "2"), ("a", "1"), ("c", "3")).toDF("k", "v")
      .select(concat_ws(" ", col("k"), col("v")).as("value"))
      .coalesce(1).write.text(out)
    val back = spark.read.format("kvtext").load(out)
      .orderBy("key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(back == Seq(("a", "1"), ("b", "2"), ("c", "3")))
  }
}
