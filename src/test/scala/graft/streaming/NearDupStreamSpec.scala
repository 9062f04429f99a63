package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class Doc(doc_id: Long, text: String)

/** Streaming near-dup dedup: every micro-batch deduplicates against all
  * docs kept by earlier batches through the persisted band-bucket store,
  * with idempotent per-batch commits (restart re-delivery is a no-op).
  *
  * Corpus construction: 40 tokens from a per-seed disjoint vocabulary;
  * a variant tag replaces only the FIRST token, so variant↔base jaccard
  * is 37/39 ≈ 0.949 — more than 4 estimator std devs (σ≈0.036 at H=96)
  * above the 0.8 threshold, and MinHash estimates are deterministic
  * (fixed hashes), so every decision below is stable.
  */
class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = (
    tempDir("neardup-store"),
    tempDir("neardup-out"))

  private def doc(id: Long, seed: Long, tag: String = ""): Doc = {
    val toks = Array.tabulate(40)(i => s"w${seed}_$i")
    if (tag.nonEmpty) toks(0) = tag
    Doc(id, toks.mkString(" "))
  }

  private def keptIn(out: String, batch: Long): Seq[Long] =
    spark.read.parquet(s"$out/batch=$batch").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq

  test("history dedup, within-batch keep-min, novel docs kept") {
    val (store, out) = freshDirs()
    val run = NearDupStream.dedupBatch(store, out) _

    // batch 0: three distinct docs + an internal near-dup of doc 1
    run(Seq(doc(1, 100), doc(2, 200), doc(3, 300), doc(4, 100, "A")).toDF(), 0)
    assert(keptIn(out, 0) == Seq(1L, 2L, 3L), "keep-min within batch")

    // batch 1: near-dup of a kept doc (dropped), the DROPPED twin's exact
    // text (also dropped — it near-matches kept doc 1), and a novel doc
    run(Seq(doc(10, 100, "B"), doc(11, 100, "A"), doc(12, 400)).toDF(), 1)
    assert(keptIn(out, 1) == Seq(12L), "history near-dups must drop")

    // batch 2: exact copy of batch-1's kept doc → dropped via the store
    run(Seq(doc(20, 400), doc(21, 500)).toDF(), 2)
    assert(keptIn(out, 2) == Seq(21L), "store must accumulate batch 1")
  }

  test("re-delivered batch is idempotent (restart replay contract)") {
    val (store, out) = freshDirs()
    val run = NearDupStream.dedupBatch(store, out) _
    run(Seq(doc(1, 100), doc(2, 200)).toDF(), 0)
    run(Seq(doc(10, 100, "A"), doc(11, 600)).toDF(), 1)
    val before = keptIn(out, 1)
    // restart: batch 1 re-delivered — must overwrite its own dirs and
    // reproduce the identical decision (store reads exclude batch >= 1)
    run(Seq(doc(10, 100, "A"), doc(11, 600)).toDF(), 1)
    assert(before == Seq(11L) && keptIn(out, 1) == before)
    // store holds exactly one copy of batch 1's index
    val bucketDirs = new java.io.File(s"$store/buckets").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(bucketDirs.toSeq == Seq("batch=0", "batch=1"))
  }

  test("compactStore merges history without changing decisions") {
    val (store, out) = freshDirs()
    val run = NearDupStream.dedupBatch(store, out) _
    run(Seq(doc(1, 100), doc(2, 200)).toDF(), 0)
    run(Seq(doc(3, 300)).toDF(), 1)
    run(Seq(doc(4, 400)).toDF(), 2)
    NearDupStream.compactStore(spark, store, upTo = 3)
    val dirs = new java.io.File(s"$store/buckets").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("batch=2"), s"merged dirs: ${dirs.toSeq}")
    // post-compaction batch still deduplicates against ALL merged history
    run(Seq(doc(10, 100, "A"), doc(11, 300, "B"), doc(12, 900)).toDF(), 3)
    assert(keptIn(out, 3) == Seq(12L), "compacted store must keep full recall")
  }

  test("compactStore recovers an interrupted promotion without losing history") {
    val (store, out) = freshDirs()
    val run = NearDupStream.dedupBatch(store, out) _
    run(Seq(doc(1, 100), doc(2, 200)).toDF(), 0)
    run(Seq(doc(3, 300)).toDF(), 1)
    // simulate the crash window between 'rename aside' and 'promote':
    // batch=1 was moved aside, _compact_tmp may or may not exist
    Seq("buckets", "sigs").foreach { sub =>
      val b1 = new java.io.File(s"$store/$sub/batch=1")
      assert(b1.renameTo(new java.io.File(s"$store/$sub/_compact_old_batch=1")))
    }
    // next compaction must first restore batch=1, then merge normally
    NearDupStream.compactStore(spark, store, upTo = 2)
    val dirs = new java.io.File(s"$store/buckets").listFiles().map(_.getName).sorted
    assert(dirs.toSeq == Seq("batch=1"), s"post-recovery dirs: ${dirs.toSeq}")
    // full history intact: near-dups of BOTH pre-crash batches drop
    run(Seq(doc(10, 100, "A"), doc(11, 300, "B"), doc(12, 900)).toDF(), 2)
    assert(keptIn(out, 2) == Seq(12L), "recovered store must keep full recall")
  }

  test("store-side hot-bucket guard bounds history fan-out") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    val (store, _) = freshDirs()
    // hand-built hot store: 5 history docs all in ONE of the probe's
    // real (band, bucket) cells, each with the probe's exact signature
    // (estimate 1.0 — would drop the probe if the bucket were read)
    val probe = Seq(doc(100, 100)).toDF()
    val sigs = Dedup.minHashSignatures(probe, "doc_id", "text", 3, 96)
    val cell = Dedup.bandBuckets(sigs, "doc_id", 32)
      .select("band", "bucket").head()
    val sig = sigs.select("sig").head().getSeq[Long](0)
    val hot = (1L to 5L).map(i => (i, cell.getInt(0), cell.getLong(1)))
      .toDF("doc_id", "band", "bucket")
    hot.write.parquet(s"$store/buckets/batch=0")
    (1L to 5L).map(i => (i, sig)).toDF("doc_id", "sig")
      .write.parquet(s"$store/sigs/batch=0")
    // cap below the bucket's membership: bucket dropped, probe kept
    val keptGuarded = NearDupStream.keptAgainstStore(
      spark, store, probe, batchId = 1, maxBucket = 4)
    assert(keptGuarded.count() == 1, "hot bucket must be dropped from history")
    // cap above it: the same store drops the probe (guard was the cause)
    val keptOpen = NearDupStream.keptAgainstStore(
      spark, store, probe, batchId = 1, maxBucket = 10)
    assert(keptOpen.count() == 0, "probe collides when the bucket is read")
  }

  test("store pins its signature scheme; mismatched params fail fast") {
    val (store, out) = freshDirs()
    NearDupStream.dedupBatch(store, out)(Seq(doc(1, 100)).toDF(), 0)
    val e = intercept[IllegalArgumentException] {
      NearDupStream.dedupBatch(store, out, numHashes = 64)(
        Seq(doc(2, 200)).toDF(), 1)
    }
    assert(e.getMessage.contains("mismatched signature"))
  }

  test("re-delivery below the compaction watermark fails loudly") {
    val (store, out) = freshDirs()
    val run = NearDupStream.dedupBatch(store, out) _
    run(Seq(doc(1, 100)).toDF(), 0)
    run(Seq(doc(2, 200)).toDF(), 1)
    NearDupStream.compactStore(spark, store, upTo = 2) // merges 0,1 → batch=1
    // a batch id that was merged can never be re-delivered; if the caller
    // violated the compaction contract, corruption must be refused
    val e = intercept[IllegalArgumentException] {
      run(Seq(doc(3, 300)).toDF(), 1)
    }
    assert(e.getMessage.contains("watermark"))
    run(Seq(doc(3, 300)).toDF(), 2) // at/above the watermark: fine
    assert(keptIn(out, 2) == Seq(3L))
  }

  test("compactEvery self-compacts at the safe call site without changing decisions") {
    val (store, out) = freshDirs()
    val run = NearDupStream.dedupBatch(store, out, compactEvery = 2) _
    // batches 0..4: compaction fires at the start of batches 2 and 4,
    // always with upTo = the in-flight id (never merging itself)
    run(Seq(doc(1, 100), doc(2, 200)).toDF(), 0)
    run(Seq(doc(3, 300)).toDF(), 1)
    run(Seq(doc(4, 400)).toDF(), 2)   // compacts {0,1} -> batch=1
    run(Seq(doc(5, 500)).toDF(), 3)
    run(Seq(doc(10, 100, "A"), doc(11, 500, "B"), doc(12, 900)).toDF(), 4)
    // batch 4 first compacted {1,2,3} -> batch=3, then deduped against
    // the FULL history: near-dups of batch-0 and batch-3 docs both drop
    assert(keptIn(out, 4) == Seq(12L), "full recall across self-compactions")
    val dirs = new java.io.File(s"$store/buckets").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("batch=3", "batch=4"),
      s"file count stays bounded: ${dirs.toSeq}")
  }

  test("store works through an explicit file:-scheme Hadoop FS path") {
    val (storeLocal, outLocal) = freshDirs()
    val (store, out) = (s"file:$storeLocal", s"file:$outLocal")
    val run = NearDupStream.dedupBatch(store, out) _
    run(Seq(doc(1, 100), doc(2, 200)).toDF(), 0)
    run(Seq(doc(10, 100, "A"), doc(11, 300)).toDF(), 1)
    assert(keptIn(out, 1) == Seq(11L), "history dedup across Hadoop-FS store")
    NearDupStream.compactStore(spark, store, upTo = 2)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/buckets"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq == Seq("batch=1"), s"compacted via Hadoop FS: ${dirs.toSeq}")
    run(Seq(doc(20, 200, "B"), doc(21, 400)).toDF(), 2)
    assert(keptIn(out, 2) == Seq(21L), "compacted history intact")
  }

  test("drives end-to-end under writeStream.foreachBatch") {
    val (store, out) = freshDirs()
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = input.toDF().writeStream
      .foreachBatch(NearDupStream.dedupBatch(store, out) _)
      .outputMode("update")
      .start()
    try {
      input.addData(doc(1, 700), doc(2, 800))
      q.processAllAvailable()
      input.addData(doc(3, 700, "A"), doc(4, 900)) // near-dup of doc 1 + novel
      q.processAllAvailable()
    } finally q.stop()
    val all = spark.read.parquet(s"$out/batch=*").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(all.toSeq == Seq(1L, 2L, 4L), s"stream dedup decisions: ${all.toSeq}")
  }

  test("decontaminateBatch drops near-dups of the fixed eval set; replay idempotent") {
    val out = tempDir("decon-out")
    // eval item = seed-100 doc with its first token tagged (j ≈ 0.949
    // to the untagged seed-100 doc — above the 0.7 threshold)
    val evalSet = Seq(doc(9000, 100, "EVAL")).toDF()
    val run = NearDupStream.decontaminateBatch(evalSet, out) _
    run(Seq(doc(1, 100), doc(2, 200)).toDF(), 0)   // 1 contaminated, 2 clean
    run(Seq(doc(3, 300), doc(4, 100, "B")).toDF(), 1) // 4 also ≈ eval source
    assert(keptIn(out, 0) == Seq(2L), "near-dup of an eval item must drop")
    assert(keptIn(out, 1) == Seq(3L), "mutated near-dup must drop too")
    // re-delivery: stateless operator, identical decision, overwrite
    run(Seq(doc(1, 100), doc(2, 200)).toDF(), 0)
    assert(keptIn(out, 0) == Seq(2L), "re-delivered batch must be idempotent")
  }

  test("decontaminateEmbeddingBatch drops semantic twins of eval vectors; replay idempotent") {
    val out = tempDir("edecon-out")
    // deterministic 8-dim unit-ish vectors: basis(i) one-hot; twin(i) a
    // scaled+nudged copy (cosine ≈ 0.999); cross-basis cosine = 0
    def basis(id: Long, axis: Int): (Long, Array[Float]) =
      (id, Array.tabulate(8)(j => if (j == axis) 1f else 0f))
    def twin(id: Long, axis: Int): (Long, Array[Float]) =
      (id, Array.tabulate(8)(j => if (j == axis) 1.02f else 0.01f))
    def keptVecs(batch: Long): Seq[Long] =
      spark.read.parquet(s"$out/batch=$batch").select("vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq
    val evalSet = Seq(basis(9000L, 0)).toDF("vec_id", "embedding")
    val run = NearDupStream.decontaminateEmbeddingBatch(evalSet, out) _
    run(Seq(twin(1L, 0), basis(2L, 3)).toDF("vec_id", "embedding"), 0)
    assert(keptVecs(0) == Seq(2L), "semantic twin of an eval vector must drop")
    run(Seq(basis(3L, 0), basis(4L, 5)).toDF("vec_id", "embedding"), 1)
    assert(keptVecs(1) == Seq(4L), "exact eval-direction vector must drop")
    // re-delivery: stateless, identical decision, overwrite
    run(Seq(twin(1L, 0), basis(2L, 3)).toDF("vec_id", "embedding"), 0)
    assert(keptVecs(0) == Seq(2L), "re-delivered batch must be idempotent")
  }
}
