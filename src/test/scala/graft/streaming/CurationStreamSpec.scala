package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end STREAMING curation: the three individually-verified
  * streaming components composed under crash/replay —
  *
  *   micro-batch → NearDupStream.dedupBatch (persistent band-bucket
  *   store, self-compacting) → per-window trending-term counts of the
  *   KEPT docs (StreamOps.topTermsPerWindow) → UpsertSink.upsertBatch
  *
  * with a forced restart mid-pipeline (crash after the dedup store
  * commit, before the sink write) and store compaction firing in-flight
  * on a later batch. Asserts exactly-once sink contents and zero
  * dedup-history loss through both events.
  */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  // 40 tokens from a per-seed disjoint vocabulary (the NearDupStreamSpec
  // construction: tag⇄base jaccard ≈ 0.949, far above the 0.8 threshold,
  // deterministic MinHash estimates)
  private def doc(id: Long, seed: Long, hour: Int, tag: String = "") = {
    val toks = Array.tabulate(40)(i => s"w${seed}_$i")
    if (tag.nonEmpty) toks(0) = tag
    (id, java.sql.Timestamp.valueOf(f"2026-01-01 $hour%02d:30:00"),
      toks.mkString(" "))
  }
  private def df(rows: (Long, java.sql.Timestamp, String)*): DataFrame =
    rows.toDF("doc_id", "ts", "text")

  test("dedup→trending→upsert composed: exactly-once through restart, no history loss through compaction") {
    val store = tempDir("cur-store")
    val out = tempDir("cur-out")
    val table = tempDir("cur-table")

    def dedupLeg(batch: DataFrame, batchId: Long): Unit =
      NearDupStream.dedupBatch(store, out, compactEvery = 2)(
        batch.select("doc_id", "text"), batchId)

    def sinkLeg(batch: DataFrame, batchId: Long): Unit = {
      val kept = spark.read.parquet(s"$out/batch=$batchId").select("doc_id")
      val counts = batch.join(kept, Seq("doc_id"), "left_semi")
        .select(window(col("ts"), "1 hour").as("win"),
          explode(graft.textops.TextAnalysis.wsTokens(col("text"))).as("term"))
        .groupBy(col("win.start").as("win_start"), col("term"))
        .agg(count(lit(1)).as("n"))
      val ups = StreamOps.topTermsPerWindow(counts, k = 3)
        .select(
          concat_ws("|", col("win_start").cast("string"), col("term")).as("key"),
          lit(batchId).as("seq"),
          col("n").cast("string").as("value"))
      UpsertSink.upsertBatch(table)(ups, batchId)
    }
    def pipeline(batch: DataFrame, batchId: Long): Unit = {
      dedupLeg(batch, batchId); sinkLeg(batch, batchId)
    }

    // batch 0: two distinct docs + an in-batch near-dup (keep-min drops 3)
    val b0 = df(doc(1, 100, 10), doc(2, 200, 10), doc(3, 100, 10, "A"))
    // batch 1: history near-dup of doc 1 (drops) + novel doc, hour 11
    val b1 = df(doc(10, 100, 11, "B"), doc(11, 300, 11))
    // batch 2 (compaction fires first): near-dups of batch-0 AND batch-1
    // keepers — both must still drop post-compaction — + a novel doc
    val b2 = df(doc(20, 100, 12, "C"), doc(21, 300, 12, "D"), doc(22, 400, 12))

    pipeline(b0, 0)
    // CRASH mid-batch-1: the dedup store committed, the sink write never
    // ran — exactly the torn state a restart must reconcile
    dedupLeg(b1, 1)
    val keptBeforeReplay = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // restart re-delivers the WHOLE batch 1: the dedup leg overwrites
    // its own dirs with the identical decision; the sink applies ONCE
    pipeline(b1, 1)
    assert(spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == keptBeforeReplay, "re-delivered dedup decision must be identical")
    val v1 = UpsertSink.latestVersion(spark, table).get
    // a second full replay of batch 1 (e.g. a duplicate foreachBatch
    // delivery after restart) must be a sink no-op
    pipeline(b1, 1)
    assert(UpsertSink.latestVersion(spark, table).get == v1,
      "replayed batch must not advance the sink version")

    // batch 2: compactEvery=2 → compactStore(upTo=2) runs IN-FLIGHT
    // before this batch's decisions
    pipeline(b2, 2)

    // dedup history survived compaction: both history near-dups dropped
    assert(spark.read.parquet(s"$out/batch=2")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(22L),
      "compaction lost dedup history (a pre-compaction keeper stopped matching)")
    // the store really did compact IN-FLIGHT: batches < 2 merged into
    // batch=1, batch=0 deleted, watermark advanced to 2
    assert(!new java.io.File(s"$store/buckets/batch=0").exists(),
      "compaction did not merge the pre-watermark batch dirs")
    assert(new java.io.File(s"$store/buckets/batch=1").exists())
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/_COMPACT_WM")), "UTF-8").trim == "2",
      "compaction watermark must sit at the merged boundary")

    // sink contents == a from-scratch recompute of the same composed
    // pipeline on the final kept sets (exactly-once, last-writer-wins)
    val got = UpsertSink.load(spark, table).get
      .select("key", "value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = Seq(0L -> b0, 1L -> b1, 2L -> b2).flatMap { case (bid, b) =>
      val keptIds = spark.read.parquet(s"$out/batch=$bid")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val counts = b.filter(col("doc_id").isin(keptIds.toSeq: _*))
        .select(window(col("ts"), "1 hour").as("win"),
          explode(graft.textops.TextAnalysis.wsTokens(col("text"))).as("term"))
        .groupBy(col("win.start").as("win_start"), col("term"))
        .agg(count(lit(1)).as("n"))
      StreamOps.topTermsPerWindow(counts, k = 3)
        .select(concat_ws("|", col("win_start").cast("string"), col("term")),
          col("n").cast("string"))
        .collect().map(r => r.getString(0) -> r.getString(1))
    }.toMap // keys are per-window|term; later batches would win ties
    assert(got == expected,
      s"sink diverged from the batch recompute:\ngot $got\nexpected $expected")
  }
}
