package graft.mr

import graft.SparkSpec

/** Reference-parity gate: the distributed engine must reproduce the lab's
  * committed golden word-count output byte-for-byte (as a line set — the
  * lab C-sorts both sides before cmp, test-mr.sh:93-96), and must agree
  * with the independent sequential oracle on every app.
  *
  * The oracle checks run on every available corpus (the seeded stand-in
  * of [[TextCorpus]], and the reference's texts wherever they exist);
  * the checks against the committed `mymrout` read the reference tree
  * and fail with its fixture-root message where it is absent.
  */
class GoldenParitySpec extends SparkSpec {
  private def glob = TextCorpus.reference.glob
  private def golden: Set[String] = TextCorpus.reference.goldenLines.toSet
  private def pgFiles: Seq[String] = TextCorpus.reference.files

  test("wc distributed output is byte-identical to the committed golden mymrout") {
    val got = MapReduce.goldenLines(
      MapReduce.run(spark, glob, MrApps.wcMap, MrApps.wcReduce))
      .collect().toSet
    assert(golden.size == 22107, "golden snapshot sanity")
    val missing = golden -- got
    val extra = got -- golden
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} extra=${extra.take(5)} " +
        s"(missing ${missing.size}, extra ${extra.size})")
  }

  test("wc through the STREAMING reduce path is byte-identical to the golden") {
    // the Iterator form never materializes a group: a single-pass fold
    // (here: count) runs in constant memory per group at any group size
    val got = MapReduce.goldenLines(
      MapReduce.runStreaming(spark, glob, MrApps.wcMap,
        (_, values) => values.foldLeft(0L)((n, _) => n + 1).toString))
      .collect().toSet
    assert((golden -- got).isEmpty && (got -- golden).isEmpty,
      s"streaming-reduce wc diverged from golden " +
        s"(missing ${(golden -- got).size}, extra ${(got -- golden).size})")
  }

  /** `mapf`/`reducef` on `c` through the distributed engine and through
    * the sequential oracle, as key -> value maps. */
  private def both(c: MrCorpus, mapf: MapReduce.MapF, reducef: MapReduce.ReduceF)
      : (Map[String, String], Map[String, String]) = {
    val dist = MapReduce.run(spark, c.glob, mapf, reducef)
      .collect().map(kv => kv.key -> kv.value).toMap
    val seq = MapReduce.sequential(c.files, mapf, reducef)
      .map(kv => kv.key -> kv.value).toMap
    (dist, seq)
  }

  test("wc distributed == sequential oracle") {
    TextCorpus.each { c =>
      val (dist, seq) = both(c, MrApps.wcMap, MrApps.wcReduce)
      assert(dist == seq)
    }
  }

  test("indexer distributed == sequential oracle (postings lists identical)") {
    TextCorpus.each { c =>
      val (dist, seq) = both(c, MrApps.indexerMap, MrApps.indexerReduce)
      assert(dist == seq)
      // spot-check shape: "<n> doc1,doc2,..." with docs sorted
      val v = dist("the")
      assert(v.startsWith("8 ") && v.contains("pg-grimm.txt"))
    }
  }

  test("crash-app data semantics distributed == sequential oracle") {
    TextCorpus.each { c =>
      val (dist, seq) = both(c, MrApps.crashMap, MrApps.crashReduce)
      assert(dist == seq)
      assert(dist.keySet == Set("a", "b", "c", "d"))
      assert(dist("d") == List.fill(8)("xyzzy").mkString(" "))
    }
  }

  test("runRows: generic MR over table rows matches the DataFrame wordcount") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
    val mr = MapReduce.runRows[(Long, String)](
        docs, t => (t._1.toString, t._2), MrApps.wcMap, MrApps.wcReduce)
      .collect().map(kv => kv.key -> kv.value.toLong).toMap
    val df = graft.SparkEntry.queries("q21_wordcount")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mr == df)
  }

  test("sequential oracle matches golden too (oracle validity)") {
    val seq = MapReduce.sequential(pgFiles, MrApps.wcMap, MrApps.wcReduce)
      .map(kv => s"${kv.key} ${kv.value}").toSet
    assert(seq == golden)
  }
}
