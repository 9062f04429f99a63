package graft.streaming

import graft.dedup.Dedup
import graft.dedup.Dedup.DefaultMaxBucket
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming NEAR-duplicate dedup: the `foreachBatch` production shape,
  * where each micro-batch is deduplicated against every document kept in
  * any earlier batch, via a persisted MinHash band-bucket store.
  *
  * Why not a stateful streaming operator: near-dup needs a candidate
  * JOIN against all history (any prior doc sharing an LSH band bucket),
  * which doesn't fit per-key `GroupState` — the key (bucket) maps to
  * unbounded member sets and a doc spans `bands` keys. The standard
  * answer is foreachBatch + a persistent index, exactly like the
  * exactly-once upsert sink ([[UpsertSink]]) — batch-granular, restart
  * safe, and every step a plain distributed join.
  *
  * Store layout (under `storeDir`): `buckets/batch=N/` holds
  * (doc_id, band, bucket) rows and `sigs/batch=N/` holds (doc_id, sig)
  * for the docs KEPT in batch N; `_META` pins the signature scheme
  * (numHashes, bands, shingle k) — a restart with different parameters
  * would silently produce garbage estimates (sig arrays null-pad in
  * `zip_with`) and divergent bucket keys, so a mismatch fails fast
  * instead. Idempotence needs no transaction log: a re-delivered batch
  * N (restart replay) reads only batches < N and OVERWRITES its own
  * `batch=N` dirs, reproducing identical output — the directory is the
  * commit. Readers of batch N's decisions are unaffected by any
  * in-flight rewrite of batch M > N.
  *
  * ALL store I/O goes through the Hadoop FileSystem API resolved from
  * the store path's scheme — the store works unchanged on HDFS/S3/GCS,
  * not just a POSIX filesystem (same contract as [[UpsertSink]]).
  *
  * Decision rule (signature-estimate gated — history texts are not
  * retained, so the exact verify stage of the batch pipeline is
  * deliberately traded for O(signature) state):
  *  - drop a doc if it LSH-collides with a KEPT doc from an earlier
  *    batch and the MinHash jaccard estimate ≥ threshold;
  *  - within a batch, drop the larger doc_id of any estimated-near-dup
  *    candidate pair (keep-min, deterministic on any partitioning);
  *  - everything else is kept and indexed.
  * Estimator std is sqrt(j(1-j)/H) ≈ 0.04 at H=96, j=0.8 — the
  * streaming contract is a recall/precision band around the threshold,
  * vs the batch pipeline's exact verify. Callers needing exactness run
  * the batch `Dedup.nearDupPairs` as a compaction pass.
  *
  * Scale: per batch, ONE shuffle joins batch band-buckets to the store
  * (both sides keyed (band, bucket)); store size is O(kept docs ×
  * bands) rows of three longs plus one sig array per doc — the texts
  * themselves never enter the store. Both sides of the history join are
  * skew-guarded by the one cap `maxBucket` (default
  * `Dedup.DefaultMaxBucket`): the batch side via
  * `Dedup.lshCandidatesWithSigs`, and the STORE side by dropping (band,
  * bucket) groups whose accumulated member count exceeds it at read time — a
  * hot bucket grown over stream lifetime would otherwise make the
  * collision fan-out quadratic in its membership. Same recall-for-
  * boundedness trade as the batch guards (a doc truly near-duplicated
  * thousands of times still collides in its other `bands − 1` buckets).
  */
object NearDupStream {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ShingleK = 3

  /** Returns the kept subset of `batch`, deciding against (and NOT yet
    * writing) the store — the pure core, used by [[dedupBatch]] and
    * directly testable.
    */
  def keptAgainstStore(
      spark: SparkSession,
      storeDir: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.8,
      numHashes: Int = 96,
      bands: Int = 32,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    decide(spark, storeDir, batch, batchId, idCol, textCol,
      threshold, numHashes, bands, maxBucket)._1

  /** (kept docs, ALL batch signatures — checkpointed) so dedupBatch can
    * index the kept docs without re-running the minhash scan.
    */
  private def decide(
      spark: SparkSession,
      storeDir: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      maxBucket: Int): (DataFrame, DataFrame) = {
    checkMeta(spark, storeDir, numHashes, bands)
    checkWatermark(spark, storeDir, batchId)
    val sigs = Dedup.minHashSignatures(batch, idCol, textCol, ShingleK, numHashes)
      .localCheckpoint() // sig scan feeds every consumer below; cut once
    val banded = Dedup.bandBuckets(sigs, idCol, bands)
      .select(col(idCol), col("band"), col("bucket"))

    // history = banded index + sigs of every batch strictly before this
    // one (re-delivery of batch N must not see N's own half-written dirs)
    val (histBucketsRaw, histSigs) =
      readStore(spark, storeDir, batchId, idCol, batch.schema(idCol).dataType)

    // store-side skew guard: drop accumulated hot buckets before the
    // join. The count window keys (band, bucket) — the SAME partitioning
    // the join needs, so the guard adds an aggregation, not a shuffle.
    val histBuckets = histBucketsRaw
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("__n") <= maxBucket)
      .drop("__n")

    val dropHist = banded
      .join(histBuckets.withColumnRenamed(idCol, "old_id"), Seq("band", "bucket"))
      .select(col(idCol), col("old_id")).distinct()
      .join(sigs.withColumnRenamed("sig", "sig_new"), idCol)
      .join(histSigs.withColumnRenamed(idCol, "old_id")
        .withColumnRenamed("sig", "sig_old"), "old_id")
      .filter(Dedup.sigEstimate(col("sig_new"), col("sig_old")) >= threshold)
      .select(col(idCol)).distinct()

    // within-batch: estimated near-dup pairs → keep-min (drop id_b side)
    val dropLocal = Dedup.lshCandidatesWithSigs(sigs, idCol, bands, maxBucket)
      .filter(Dedup.sigEstimate(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()

    (batch.join(dropHist.union(dropLocal).distinct(), Seq(idCol), "left_anti"),
      sigs)
  }

  /** foreachBatch body: dedup `batch` against the store, append the kept
    * docs' index to the store (idempotent overwrite of this batch's
    * dirs), and write the kept documents to `outDir/batch=N`.
    *
    * `compactEvery > 0` runs [[compactStore]] automatically at the START
    * of every `compactEvery`-th batch with `upTo = batchId` — the
    * always-safe call site (every batch strictly below the in-flight one
    * is checkpoint-committed, so no merged id can ever be re-delivered).
    * This keeps the store's file count O(compactEvery) instead of
    * O(stream lifetime) with no hand-rolled maintenance pass.
    */
  def dedupBatch(
      storeDir: String,
      outDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.8,
      numHashes: Int = 96,
      bands: Int = 32,
      maxBucket: Int = DefaultMaxBucket,
      compactEvery: Int = 0)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactStore(spark, storeDir, upTo = batchId)
    val (keptRaw, sigs) = decide(spark, storeDir, batch, batchId,
      idCol, textCol, threshold, numHashes, bands, maxBucket)
    val kept = keptRaw
      .localCheckpoint() // decisions must not recompute after store writes
    writeMetaIfAbsent(spark, storeDir, numHashes, bands)
    // kept docs' signatures come from the already-checkpointed batch
    // sigs (semi-join on kept ids) — NOT a second minhash scan
    val keptSigs = sigs.join(kept.select(idCol), Seq(idCol), "left_semi")
    Dedup.bandBuckets(keptSigs, idCol, bands)
      .select(col(idCol), col("band"), col("bucket"))
      .write.mode(SaveMode.Overwrite).parquet(s"$storeDir/buckets/batch=$batchId")
    keptSigs.write.mode(SaveMode.Overwrite).parquet(s"$storeDir/sigs/batch=$batchId")
    kept.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
  }

  /** foreachBatch body: FUZZY-decontaminate each micro-batch against a
    * FIXED eval set — drop every batch doc that is an n-gram near-dup
    * (jaccard ≥ threshold, via `Dedup.crossNearDupPairs`) of any eval
    * item, writing survivors to `outDir/batch=N`. Unlike [[dedupBatch]]
    * there is NO store: the eval set never grows, so the operator is
    * stateless across batches and a re-delivered batch is idempotent by
    * the dir overwrite alone (same decision, same bytes). Eval sets are
    * small by nature; its per-batch signature recompute is a scan-bound
    * map over eval docs — persist `evalSet` if it is unusually large.
    */
  def decontaminateBatch(
      evalSet: DataFrame,
      outDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7,
      numHashes: Int = 96,
      bands: Int = 32,
      maxBucket: Int = DefaultMaxBucket)(batch: DataFrame, batchId: Long): Unit = {
    val flagged = Dedup.crossNearDupPairs(batch, evalSet, idCol, textCol,
        ShingleK, threshold, numHashes, bands, maxBucket)
      .select(col("id_a").as(idCol)).distinct()
    batch.join(flagged, Seq(idCol), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
  }

  /** foreachBatch body: SEMANTIC decontamination — the embedding-space
    * counterpart of [[decontaminateBatch]]. Drops every batch vector
    * whose cosine to any eval embedding reaches `threshold` (via the
    * skew-guarded hyperplane-LSH cross join,
    * `Similarity.crossEmbeddingNearDups`), catching paraphrased eval
    * items that share no n-grams with the eval text. Stateless across
    * batches for the same reason as the n-gram form: the eval side is
    * fixed, so a re-delivered batch overwrites its own dir with the
    * same decision.
    */
  def decontaminateEmbeddingBatch(
      evalSet: DataFrame,
      outDir: String,
      threshold: Double = 0.95,
      nPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxBucket: Int = DefaultMaxBucket)(batch: DataFrame, batchId: Long): Unit = {
    val flagged = graft.similarity.Similarity.crossEmbeddingNearDups(
        batch, evalSet, threshold, nPlanes, bands, idCol, embCol, maxBucket)
      .select(col("id_a").as(idCol)).distinct()
    batch.join(flagged, Seq(idCol), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
  }

  /** Compact the store: merge all batch dirs strictly below `upTo` into
    * a single consolidated batch dir (named `batch=<maxMerged>`), so the
    * per-batch file count stops growing with stream lifetime — the
    * maintenance pass every foreachBatch sink needs ([[UpsertSink]]'s
    * vacuum is the same idea). Decisions are unaffected: the merged dir
    * holds exactly the union of the merged batches' rows and keeps a
    * batch id below `upTo`, so future batches read the same history.
    *
    * RE-DELIVERY CONTRACT — `upTo` must not exceed any batch id that
    * Spark could still re-deliver. Only the in-flight batch (foreachBatch
    * ran, streaming commit log entry not yet written) is ever re-run
    * after a restart; every batch strictly below it is committed. So the
    * always-safe call site is inside (or immediately before) foreachBatch
    * of batch N with `upTo = N`. If a merged batch WERE re-delivered, it
    * would both read the wrong history (its own kept docs, merged into a
    * dir it can see... or none at all) and overwrite the merged dir,
    * destroying all earlier batches' index. To make that corruption
    * impossible rather than merely documented, compaction persists a
    * `_COMPACT_WM` watermark (= max merged id + 1) and [[dedupBatch]]
    * refuses any `batchId` below it with a loud error.
    *
    * Run BETWEEN batches (it rewrites dirs that concurrent deciders
    * would read). Crash safety — NO window loses history:
    *  1. recover any interrupted previous compaction (below);
    *  2. write the consolidated dir (holding EVERY merged row) to
    *     `_compact_tmp`;
    *  3. rename the colliding source dir ASIDE to `_compact_old_batch=N`
    *     (atomic, not a delete);
    *  4. promote `_compact_tmp` → `batch=N` (atomic, checked);
    *  5. delete the aside dir and the other merged sources;
    *  6. advance the `_COMPACT_WM` watermark (atomic tmp + rename).
    * A crash between 3 and 4 is undone by recovery (the aside dir is
    * renamed back because `batch=N` is missing); a crash after 4 leaves
    * duplicate rows across dirs, which the decision joins tolerate
    * (collision candidates dedup on doc id before the estimate gate) and
    * the next compaction merges away; a crash before 6 leaves a stale
    * (lower) watermark — a weaker assert, never corruption. Stale
    * `_compact_tmp` dirs are deleted by recovery — by then either
    * promotion completed (tmp is gone) or the sources are all still
    * present. All renames go through the Hadoop FS API, so the protocol
    * holds on HDFS (atomic rename) and object stores with atomic-rename
    * semantics; the aside-rename design never has a window where history
    * exists only in a deleted or half-copied state.
    */
  def compactStore(spark: SparkSession, storeDir: String, upTo: Long): Unit = {
    val f = fs(spark, storeDir)
    var mergedMax = -1L
    Seq("buckets", "sigs").foreach { sub =>
      val root = new Path(s"$storeDir/$sub")
      def dirs(prefix: String): Seq[Path] =
        if (!f.exists(root)) Seq.empty
        else f.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
          .map(_.getPath)
      // recovery from an interrupted run
      dirs("_compact_old_batch=").foreach { aside =>
        val target = new Path(root, aside.getName.stripPrefix("_compact_old_"))
        if (!f.exists(target)) require(f.rename(aside, target),
          s"compactStore recovery: failed to restore $aside")
        else f.delete(aside, true) // promotion had completed; aside is a duplicate
      }
      dirs("_compact_tmp").foreach(f.delete(_, true))

      val parts = dirs("batch=")
        .filter(_.getName.stripPrefix("batch=").toLong < upTo)
      if (parts.length > 1) {
        val maxId = parts.map(_.getName.stripPrefix("batch=").toLong).max
        mergedMax = math.max(mergedMax, maxId)
        val tmp = new Path(root, "_compact_tmp")
        spark.read.parquet(parts.map(_.toString): _*)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val target = new Path(root, s"batch=$maxId")
        val aside = new Path(root, s"_compact_old_batch=$maxId")
        require(f.rename(target, aside),
          s"compactStore: failed to move $target aside")
        require(f.rename(tmp, target),
          s"compactStore: failed to promote $tmp to $target")
        f.delete(aside, true)
        parts.filter(_.getName != s"batch=$maxId").foreach(f.delete(_, true))
      }
    }
    if (mergedMax >= 0) writeSmallFile(spark, storeDir, "_COMPACT_WM",
      (mergedMax + 1).toString)
  }

  // ---------- store metadata + watermark (small atomic files) ----------

  private def readSmallFile(
      spark: SparkSession, dir: String, name: String): Option[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Atomic small-file commit: write aside, rename-with-overwrite —
    * plain `FileSystem.rename` refuses an existing destination;
    * `FileContext` provides the atomic overwrite (same pattern as
    * [[UpsertSink]]). */
  private def writeSmallFile(
      spark: SparkSession, dir: String, name: String, content: String): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val tmp = new Path(dir, s"$name.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    FileContext
      .getFileContext(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(dir, name), Options.Rename.OVERWRITE)
  }

  private def metaString(numHashes: Int, bands: Int): String =
    s"numHashes:$numHashes\nbands:$bands\nk:$ShingleK"

  private def checkMeta(
      spark: SparkSession, storeDir: String, numHashes: Int, bands: Int): Unit =
    readSmallFile(spark, storeDir, "_META").foreach { text =>
      val want = metaString(numHashes, bands)
      require(text == want,
        s"store at $storeDir was written with [${text.replace("\n", " ")}]; " +
          s"refusing [${want.replace("\n", " ")}] — mismatched signature " +
          "schemes silently destroy recall (sig arrays null-pad, bucket " +
          "keys diverge). Rebuild the store or match its parameters.")
    }

  private def writeMetaIfAbsent(
      spark: SparkSession, storeDir: String, numHashes: Int, bands: Int): Unit =
    if (readSmallFile(spark, storeDir, "_META").isEmpty)
      writeSmallFile(spark, storeDir, "_META", metaString(numHashes, bands))

  private def checkWatermark(
      spark: SparkSession, storeDir: String, batchId: Long): Unit =
    readSmallFile(spark, storeDir, "_COMPACT_WM").foreach { text =>
      val wm = text.trim.toLong
      require(batchId >= wm,
        s"batch $batchId re-delivered BELOW the compaction watermark $wm: " +
          "compactStore merged this batch id, so re-running it would read " +
          "wrong history and overwrite the merged index. Compact only " +
          "batches that can no longer be re-delivered (upTo <= the " +
          "in-flight batch id).")
    }

  private def readStore(
      spark: SparkSession,
      storeDir: String,
      beforeBatch: Long,
      idCol: String,
      idType: org.apache.spark.sql.types.DataType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val f = fs(spark, storeDir)
    // empty-store schemas carry the CALLER's id type — a hardcoded
    // BIGINT would type the first batch's joins differently from every
    // later batch when ids are strings
    def read(sub: String, rest: Seq[StructField]): DataFrame = {
      val dir = new Path(s"$storeDir/$sub")
      val parts =
        if (!f.exists(dir)) Seq.empty[String]
        else f.listStatus(dir).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
          .filter(_.getPath.getName.stripPrefix("batch=").toLong < beforeBatch)
          .map(_.getPath.toString)
      if (parts.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(StructField(idCol, idType) +: rest))
      else spark.read.parquet(parts: _*)
    }
    (read("buckets", Seq(StructField("band", IntegerType),
      StructField("bucket", LongType))),
      read("sigs", Seq(StructField("sig", ArrayType(LongType)))))
  }
}
