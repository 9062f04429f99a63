package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Reference-parity gate: the distributed engine must reproduce the lab's
  * committed golden word-count output byte-for-byte (as a line set — the
  * lab C-sorts both sides before cmp, test-mr.sh:93-96), and must agree
  * with the independent sequential oracle on every app.
  */
class GoldenParitySpec extends SparkSpec {
  private def glob = ReferenceCorpus.require(ReferenceCorpus.PgGlob)
  private def golden: Set[String] = Files.readAllLines(
    Paths.get(ReferenceCorpus.require(ReferenceCorpus.GoldenWc)),
    StandardCharsets.UTF_8).asScala.toSet
  private def pgFiles: Seq[String] =
    Files.list(Paths.get(ReferenceCorpus.require(ReferenceCorpus.MainDir))).iterator().asScala
      .map(_.toString).filter(p => p.matches(".*/pg-.*\\.txt")).toSeq.sorted

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

  test("wc distributed == sequential oracle") {
    val dist = MapReduce.run(spark, glob, MrApps.wcMap, MrApps.wcReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    val seq = MapReduce.sequential(pgFiles, MrApps.wcMap, MrApps.wcReduce)
      .map(kv => kv.key -> kv.value).toMap
    assert(dist == seq)
  }

  test("indexer distributed == sequential oracle (postings lists identical)") {
    val dist = MapReduce.run(spark, glob, MrApps.indexerMap, MrApps.indexerReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    val seq = MapReduce.sequential(pgFiles, MrApps.indexerMap, MrApps.indexerReduce)
      .map(kv => kv.key -> kv.value).toMap
    assert(dist == seq)
    // spot-check shape: "<n> doc1,doc2,..." with docs sorted
    val v = dist("the")
    assert(v.startsWith("8 ") && v.contains("pg-grimm.txt"))
  }

  test("crash-app data semantics distributed == sequential oracle") {
    val dist = MapReduce.run(spark, glob, MrApps.crashMap, MrApps.crashReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    val seq = MapReduce.sequential(pgFiles, MrApps.crashMap, MrApps.crashReduce)
      .map(kv => kv.key -> kv.value).toMap
    assert(dist == seq)
    assert(dist.keySet == Set("a", "b", "c", "d"))
    assert(dist("d") == List.fill(8)("xyzzy").mkString(" "))
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
