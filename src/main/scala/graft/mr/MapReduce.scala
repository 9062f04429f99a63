package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}

/** One key/value row of the generic MapReduce surface — mirrors the
  * reference's sole datum (KeyValue, /root/reference/src/mr/worker.go:29-32):
  * untyped string key and value.
  */
final case class KV(key: String, value: String)

/** The reference engine's generic two-stage MapReduce, re-expressed
  * Spark-first (SURVEY.md §2.1).
  *
  * Reference semantics reproduced:
  *  - map: user `mapf(filename, contents) -> [(k,v)]` over whole files
  *    (/root/reference/src/mr/worker.go:76-101)
  *  - shuffle: hash-partition by key (worker.go:98-101) — Spark's shuffle
  *    replaces the mr-M-R JSON files; grouping, not placement, is the
  *    observable contract
  *  - reduce: HOLISTIC — `reducef(key, allValues)` sees the complete value
  *    list at once and need not be associative (worker.go:167-183); hence
  *    `groupByKey.mapGroups`, NOT `reduceByKey`/partial agg
  *  - output: text lines "key value" (worker.go:180), C-locale sorted for
  *    golden comparison (/root/reference/src/main/test-mr.sh:10,93)
  *
  * Scale notes: mapGroups buffers one group's values — the same limitation
  * the reference has (a reduce partition must fit in memory,
  * worker.go:140-158). Associative reduces should instead use the
  * DataFrame `groupBy().agg()` fast path (automatic partial aggregation);
  * the catalog queries do. Fault tolerance (straggler re-execution, atomic
  * commit, exactly-once output — coordinator.go:158-186, worker.go:104-116)
  * is inherited from Spark's task retry/speculation + output committer.
  */
object MapReduce {
  type MapF = (String, String) => Seq[KV]
  type ReduceF = (String, Seq[String]) => String

  /** Distributed run over whole files matched by `glob` (one map call per
    * file, filename = basename, matching how the lab passes `pg-*.txt`).
    */
  def run(
      spark: SparkSession,
      glob: String,
      mapf: MapF,
      reducef: ReduceF): Dataset[KV] =
    runStreaming(spark, glob, mapf, (k, it) => reducef(k, it.toSeq))

  /** [[run]] with a STREAMING reduce: `reducef` consumes the group's
    * values as an Iterator instead of a materialized Seq, so a reduce
    * that folds incrementally (count, concat-fold, max — anything
    * single-pass) processes a group of ANY size in constant memory.
    * `mapGroups` streams rows off the sorted shuffle; it is the
    * `.toSeq` in [[run]] that buffers — this variant removes it. The
    * Seq form stays for reference parity (worker.go:167-183 hands the
    * reduce a complete slice); wc/indexer-style apps pass through both
    * identically (GoldenParitySpec runs wc through this path against
    * the committed golden).
    */
  def runStreaming(
      spark: SparkSession,
      glob: String,
      mapf: MapF,
      reducef: (String, Iterator[String]) => String): Dataset[KV] = {
    import spark.implicits._
    val files = spark.sparkContext
      .wholeTextFiles(glob, minPartitions = spark.sparkContext.defaultParallelism)
      .map { case (path, contents) => (path.substring(path.lastIndexOf('/') + 1), contents) }
    mapReduce[(String, String)](files.toDS(), identity, mapf, reducef)
  }

  /** Sequential oracle mirroring mrsequential.go
    * (/root/reference/src/main/mrsequential.go:37-83): scan+map over files
    * in order, global key sort, run-length group, reduce. Pure Scala — no
    * Spark — so it is an independent correctness oracle for `run`.
    */
  def sequential(paths: Seq[String], mapf: MapF, reducef: ReduceF): Seq[KV] = {
    val intermediate = paths.flatMap { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      val contents = new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
      mapf(name, contents)
    }
    intermediate
      .groupBy(_.key)
      .toSeq
      .sortBy(_._1)
      .map { case (k, kvs) => KV(k, reducef(k, kvs.map(_.value))) }
  }

  /** Generic MapReduce over TABLE rows: the same (mapf, reducef) contract
    * with an arbitrary row-to-(name, payload) adapter, so reference users
    * can run their map/reduce pairs over columnar data, not just files.
    */
  def runRows[T](
      ds: Dataset[T],
      extract: T => (String, String),
      mapf: MapF,
      reducef: ReduceF): Dataset[KV] =
    mapReduce(ds, extract, mapf, (k, it: Iterator[String]) => reducef(k, it.toSeq))

  /** The one map → shuffle → reduce body behind [[runStreaming]], [[run]]
    * and [[runRows]]: `mapf` over each row's (name, payload), group by
    * key, then `reducef` over each group's value iterator.
    */
  private def mapReduce[T](
      ds: Dataset[T],
      extract: T => (String, String),
      mapf: MapF,
      reducef: (String, Iterator[String]) => String): Dataset[KV] = {
    import ds.sparkSession.implicits._
    ds.flatMap { row =>
      val (name, payload) = extract(row)
      mapf(name, payload)
    }
      .groupByKey(_.key)
      .mapGroups((k, it) => KV(k, reducef(k, it.map(_.value))))
  }

  /** Golden text lines "key value" (worker.go:180). Compare as a set (the
    * lab C-sorts both sides before cmp).
    */
  def goldenLines(ds: Dataset[KV]): Dataset[String] = {
    import ds.sparkSession.implicits._
    ds.map(kv => s"${kv.key} ${kv.value}")
  }

  /** Text sink with the reference's output layout: `nReduce` hash
    * partitions on key (the mr-out-R files, worker.go:160-186), each
    * sorted by key. Spark's FileOutputCommitter provides the same
    * atomic-rename commit the reference hand-rolls (worker.go:104-116):
    * no partial output is ever visible (test-mr.sh early-exit contract).
    */
  def writeText(ds: Dataset[KV], path: String, nReduce: Int = 10): Unit = {
    import org.apache.spark.sql.functions.col
    ds.toDF("key", "value")
      .repartition(nReduce, col("key"))
      .sortWithinPartitions("key")
      .select(org.apache.spark.sql.functions
        .concat_ws(" ", col("key"), col("value")).as("line"))
      .write.mode("overwrite").text(path)
  }
}

/** The reference lab's committed MapReduce fixture — the eight Gutenberg
  * texts and the golden word-count output `mymrout` (FIXTURES.md §1) —
  * under one root. Every check that reads it resolves its path through
  * [[require]], so when the root is absent the check fails with one
  * explicit message naming the missing path instead of an I/O error
  * (and is never skipped).
  *
  * The checks that read only this tree are the ones about its own
  * files: GoldenParitySpec's two byte-golden wc checks and its oracle
  * validity check, SourcesSpec's golden `kvtext` read, and the catalog
  * queries q23_generic_mapreduce and q163_kvtext_source. The oracle,
  * scheduler and `kvtext` split checks run on a seeded stand-in corpus
  * (the test fixture `graft.mr.TextCorpus`), and on this tree as well
  * wherever it exists.
  */
object ReferenceCorpus {
  val Root = "/root/reference"
  val MainDir = s"$Root/src/main"
  val PgGlob = s"$MainDir/pg-*.txt"
  val GoldenWc = s"$MainDir/mymrout"

  /** `path`, once the fixture root is known to exist. */
  def require(path: String): String = {
    if (!Files.isDirectory(Paths.get(Root)))
      throw new IllegalStateException(
        s"reference fixture root $Root is missing: this check reads $path " +
          "(the reference lab's MapReduce corpus and golden output)")
    path
  }
}

/** Go-compatible text helpers shared by the ported mrapps. */
object GoText {
  /** strings.FieldsFunc(s, r => !unicode.IsLetter(r)) — split into maximal
    * runs of Unicode letters, iterating by code point exactly as Go ranges
    * over runes (/root/reference/src/mrapps/wc.go:23-26).
    */
  def letterWords(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) sb.appendCodePoint(cp)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) out += sb.toString
    out.result()
  }

  /** Go len(s) = UTF-8 byte length, not UTF-16 char count. */
  def goLen(s: String): Int = s.getBytes(StandardCharsets.UTF_8).length
}

/** The reference's data-meaningful mrapps as (mapf, reducef) pairs
  * (SURVEY.md §2.2). Scheduling-probe apps (jobcount/mtiming/rtiming/
  * early_exit) are engine probes, not data operators — their Spark analogs
  * are SparkListener assertions (see SchedulerParitySpec).
  */
object MrApps {
  import MapReduce.{MapF, ReduceF}

  /** wc: per-occurrence word count (/root/reference/src/mrapps/wc.go:21-44). */
  val wcMap: MapF = (_, contents) => GoText.letterWords(contents).map(KV(_, "1"))
  val wcReduce: ReduceF = (_, values) => values.length.toString

  /** indexer: inverted index of per-document distinct words
    * (/root/reference/src/mrapps/indexer.go:20-39). Output
    * "<n> doc1,doc2,..." with docs sorted byte-wise (Go sort.Strings).
    */
  val indexerMap: MapF = (doc, contents) =>
    GoText.letterWords(contents).distinct.map(KV(_, doc))
  val indexerReduce: ReduceF = (_, values) => {
    val sorted = values.sorted
    s"${sorted.length} ${sorted.mkString(",")}"
  }

  /** crash/nocrash data semantics (/root/reference/src/mrapps/nocrash.go:25-47):
    * 4 fixed keys per file; reduce = space-joined sorted values. The crash
    * behavior itself maps to Spark task retry, not to data.
    */
  val crashMap: MapF = (filename, contents) => Seq(
    KV("a", filename),
    KV("b", GoText.goLen(filename).toString),
    KV("c", GoText.goLen(contents).toString),
    KV("d", "xyzzy"))
  val crashReduce: ReduceF = (_, values) => values.sorted.mkString(" ")
}
