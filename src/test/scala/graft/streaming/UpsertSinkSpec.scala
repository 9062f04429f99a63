package graft.streaming

import graft.SparkSpec
import graft.kv.{KvOp, KvStore}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The exactly-once upsert sink must (a) materialize the CDC change feed
  * to the same final state as batch replay, (b) be idempotent under
  * batch re-delivery (the restart-recovery contract of foreachBatch),
  * and (c) never regress on out-of-order version reads (always through
  * `_LATEST`).
  */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def mkOps(n: Int): Seq[KvOp] =
    (0 until n).map { i =>
      val op = if (i % 3 == 0) KvOp.Put else KvOp.Append
      KvOp(i.toLong, op, s"k${i % 7}", s"v$i.")
    }

  private def expectedState(ops: Seq[KvOp]): Map[String, String] =
    KvStore.replay(ops.toDF()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("streamed change feed through the sink == batch replay; replays are no-ops") {
    val ops = mkOps(90)
    val dir = tempDir("graft-upsert")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KvOp]
    val q = KvStreaming.changeFeed(spark, input.toDS())
      .writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[KvStreaming.KvChange], id: Long) =>
        UpsertSink.upsertBatch(dir)(ds.toDF(), id))
      .outputMode(OutputMode.Append())
      .start()
    try {
      ops.grouped(30).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val got = UpsertSink.load(spark, dir).get
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(got == expectedState(ops), s"sink state diverged from batch replay")

    // simulate post-restart re-delivery of an already-committed batch:
    // a stale batchId must not change the table or the version pointer
    val vBefore = UpsertSink.latestVersion(spark, dir).get
    val staleRows = Seq(KvStreaming.KvChange(999L, "k0", "POISON")).toDF()
    UpsertSink.upsertBatch(dir)(staleRows, vBefore)
    assert(UpsertSink.latestVersion(spark, dir).contains(vBefore))
    val after = UpsertSink.load(spark, dir).get
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(after == got, "replayed batch must be a no-op")
  }

  test("bucketed sink == plain sink state; untouched buckets are not rewritten") {
    val ops = mkOps(60)
    val dir = tempDir("graft-upsertb")
    // replay the op stream through changeFeed in 2 chunks, second chunk
    // touching only one key → at most a couple of buckets
    val changes = {
      var st = Map.empty[String, String].withDefaultValue("")
      ops.sortBy(_.seq).map { o =>
        val next = KvStreaming.step(st(o.key), o)._1
        st = st.updated(o.key, next)
        KvStreaming.KvChange(o.seq, o.key, next)
      }
    }
    val (c0, c1full) = changes.splitAt(40)
    val c1 = c1full.filter(_.key == "k1")
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(c0.toDF(), 0L)
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(c1.toDF(), 1L)
    val got = UpsertSink.loadBucketed(spark, dir).get
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    val expected = expectedState(ops.take(40) ++
      ops.drop(40).filter(_.key == "k1"))
    assert(got == expected)
    // write amplification: v1 holds only the touched buckets' rows
    val v1Keys = spark.read.parquet(s"$dir/v1")
      .select("key").distinct().collect().map(_.getString(0)).toSet
    assert(v1Keys.contains("k1") && v1Keys.size < 7,
      s"v1 should hold only touched buckets, got keys $v1Keys")
    // replayed bucketed batch: no-op
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
      Seq(KvStreaming.KvChange(999L, "k1", "POISON")).toDF(), 1L)
    val after = UpsertSink.loadBucketed(spark, dir).get
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(after == got)
  }

  test("a fresh batch advances the version and readers see the new snapshot") {
    val dir = tempDir("graft-upsert2")
    UpsertSink.upsertBatch(dir)(
      Seq(KvStreaming.KvChange(1L, "a", "x")).toDF(), 0L)
    UpsertSink.upsertBatch(dir)(
      Seq(KvStreaming.KvChange(2L, "a", "y"), KvStreaming.KvChange(3L, "b", "z")).toDF(), 1L)
    assert(UpsertSink.latestVersion(spark, dir).contains(1L))
    val got = UpsertSink.load(spark, dir).get
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(got == Map("a" -> "y", "b" -> "z"))
  }

  test("a new lineage (fresh checkpoint) is never mistaken for a replay") {
    val dir = tempDir("graft-upsert3")
    UpsertSink.upsertBatch(dir, appId = "run-1")(
      Seq(KvStreaming.KvChange(1L, "a", "x")).toDF(), 5L)
    // same low batchId from a DIFFERENT app: must apply, not be dropped
    UpsertSink.upsertBatch(dir, appId = "run-2")(
      Seq(KvStreaming.KvChange(9L, "a", "y")).toDF(), 0L)
    val got = UpsertSink.load(spark, dir).get
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(got == Map("a" -> "y"), "fresh-lineage batch was dropped as a replay")
    // while a true same-app replay still is a no-op
    UpsertSink.upsertBatch(dir, appId = "run-2")(
      Seq(KvStreaming.KvChange(99L, "a", "POISON")).toDF(), 0L)
    assert(UpsertSink.load(spark, dir).get
      .collect().map(_.getAs[String]("value")).toSeq == Seq("y"))
  }

  test("empty batches advance the replay marker without junk versions") {
    val dir = tempDir("graft-upsert4")
    UpsertSink.upsertBatch(dir)(
      Seq.empty[KvStreaming.KvChange].toDF(), 0L)
    assert(UpsertSink.load(spark, dir).isEmpty, "no data yet -> no snapshot")
    UpsertSink.upsertBatch(dir)(
      Seq(KvStreaming.KvChange(1L, "a", "x")).toDF(), 1L)
    assert(UpsertSink.load(spark, dir).get.count() == 1)
    // bucketed form likewise
    val dirB = tempDir("graft-upsert5")
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 4)(
      Seq.empty[KvStreaming.KvChange].toDF(), 0L)
    assert(UpsertSink.loadBucketed(spark, dirB).isEmpty)
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 4)(
      Seq(KvStreaming.KvChange(1L, "a", "x")).toDF(), 1L)
    assert(UpsertSink.loadBucketed(spark, dirB).get.count() == 1)
  }

  test("bucket-count mismatch on an existing table fails fast") {
    val dir = tempDir("graft-upsert6")
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
      Seq(KvStreaming.KvChange(1L, "a", "x")).toDF(), 0L)
    val e = intercept[IllegalArgumentException] {
      UpsertSink.upsertBatchBucketed(dir, nBuckets = 16)(
        Seq(KvStreaming.KvChange(2L, "a", "y")).toDF(), 1L)
    }
    assert(e.getMessage.contains("bucketed 8-way"))
  }

  test("compaction folds a fanned-out manifest into one version; vacuum then reclaims all") {
    val dir = tempDir("graft-upsert9")
    // six batches, each touching one key → the manifest ends up
    // referencing several version dirs (each bucket pinned where it was
    // last rewritten), none of which vacuum alone can reclaim
    (0 until 6).foreach { i =>
      UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
        Seq(KvStreaming.KvChange(i.toLong, s"k$i", s"v$i")).toDF(), i.toLong)
    }
    def snapshot() = UpsertSink.loadBucketed(spark, dir).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    def versionDirs() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).toSet
    val snap = snapshot()
    val vBefore = UpsertSink.latestVersion(spark, dir).get
    assert(versionDirs().size > 1, "setup must fan out across versions")
    val newV = UpsertSink.compact(spark, dir)
    assert(newV.contains(vBefore + 1), s"compact returned $newV")
    assert(snapshot() == snap, "compaction must not change the snapshot")
    val removed = UpsertSink.vacuum(spark, dir)
    assert(removed.nonEmpty && versionDirs() == Set(s"v${vBefore + 1}"),
      s"post-compaction vacuum must leave only the compacted version, " +
        s"removed=$removed left=${versionDirs()}")
    assert(snapshot() == snap)
    // already-compact table: no-op
    assert(UpsertSink.compact(spark, dir).isEmpty)
    // compaction preserves the replay marker: a re-delivered batch from
    // the same lineage is still recognized and dropped
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
      Seq(KvStreaming.KvChange(999L, "k0", "POISON")).toDF(), 5L)
    assert(snapshot() == snap, "replay after compaction must stay a no-op")
    // and a genuinely new batch still applies on top
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
      Seq(KvStreaming.KvChange(1000L, "k0", "fresh")).toDF(), 6L)
    assert(snapshot() == snap.updated("k0", "fresh"))
  }

  test("a compaction that dies mid-write never tears the snapshot; restart recovers") {
    val dir = tempDir("graft-upsertA")
    (0 until 4).foreach { i =>
      UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
        Seq(KvStreaming.KvChange(i.toLong, s"k$i", s"v$i")).toDF(), i.toLong)
    }
    def snapshot() = UpsertSink.loadBucketed(spark, dir).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    val snap = snapshot()
    val v = UpsertSink.latestVersion(spark, dir).get
    // simulate the crash window: compact() writes v<n+1> FIRST and only
    // then commits manifest + pointer — a death in between leaves a
    // stray version dir and an untouched pointer
    Seq(("zz", 1L, "torn", 0)).toDF("key", "seq", "value", "bucket")
      .write.partitionBy("bucket").parquet(s"$dir/v${v + 1}")
    assert(snapshot() == snap,
      "readers resolve through _LATEST — a stray version dir must be invisible")
    // restart: rerun compaction; mode(overwrite) clobbers the stray dir
    val newV = UpsertSink.compact(spark, dir)
    assert(newV.contains(v + 1))
    assert(snapshot() == snap, "recovered compaction must converge to the same state")
    UpsertSink.vacuum(spark, dir)
    assert(snapshot() == snap)
  }

  test("vacuum reclaims superseded versions; the snapshot is unchanged") {
    val dir = tempDir("graft-upsert7")
    (0 to 3).foreach { i =>
      UpsertSink.upsertBatch(dir)(
        Seq(KvStreaming.KvChange(i.toLong, "k", s"v$i")).toDF(), i.toLong)
    }
    val before = UpsertSink.load(spark, dir).get.collect().toSeq
    val removed = UpsertSink.vacuum(spark, dir)
    assert(removed == Seq(0L, 1L, 2L), s"expected old versions gone, removed $removed")
    assert(UpsertSink.load(spark, dir).get.collect().toSeq == before)
    // bucketed: only unreferenced versions die (v0 may still hold buckets)
    val dirB = tempDir("graft-upsert8")
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
      (0 until 12).map(i => KvStreaming.KvChange(i.toLong, s"k$i", "x")).toDF(), 0L)
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
      Seq(KvStreaming.KvChange(100L, "k1", "y")).toDF(), 1L)
    val snapB = UpsertSink.loadBucketed(spark, dirB).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    val removedB = UpsertSink.vacuum(spark, dirB)
    assert(removedB.isEmpty, "v0 still holds live buckets — must survive")
    assert(UpsertSink.loadBucketed(spark, dirB).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap == snapB)
  }

  test("retention grace window: a reader pinned to an old version resolves until the window closes") {
    val dir = tempDir("graft-upsert9")
    (0 to 4).foreach { i =>
      UpsertSink.upsertBatch(dir)(
        Seq(KvStreaming.KvChange(i.toLong, "k", s"v$i")).toDF(), i.toLong)
    }
    // a reader resolved _LATEST at v2 (three commits ago) and pins it
    val pinned = UpsertSink.loadVersion(spark, dir, 2L).get.collect()
    assert(pinned.map(_.getAs[String]("value")).toSeq == Seq("v2"))
    // count window keepLast=2 retains v2 and v3; only v0/v1 die
    val removed = UpsertSink.vacuum(spark, dir, keepLast = 2)
    assert(removed == Seq(0L, 1L), s"window must spare v2/v3, removed $removed")
    assert(UpsertSink.loadVersion(spark, dir, 2L).get.collect()
      .map(_.getAs[String]("value")).toSeq == Seq("v2"),
      "pinned reader must still resolve inside the grace window")
    // age window: everything is seconds old, so nothing is reclaimable
    assert(UpsertSink.vacuum(spark, dir, minAgeMs = 3600000L).isEmpty,
      "age window must spare young versions")
    // window closes (defaults = reclaim all unreferenced): v2/v3 die and
    // the pinned read now reports gone instead of a torn snapshot
    val closed = UpsertSink.vacuum(spark, dir)
    assert(closed == Seq(2L, 3L), s"expected v2/v3 reclaimed, got $closed")
    assert(UpsertSink.loadVersion(spark, dir, 2L).isEmpty)
    assert(UpsertSink.load(spark, dir).get.collect()
      .map(_.getAs[String]("value")).toSeq == Seq("v4"))

    // bucketed: the retained window pins versions its manifests
    // reference TRANSITIVELY — a pinned bucketed snapshot keeps its
    // carried-forward buckets
    val dirB = tempDir("graft-upsertA")
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
      (0 until 12).map(i => KvStreaming.KvChange(i.toLong, s"k$i", "x")).toDF(), 0L)
    (1 to 3).foreach { i =>
      UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
        Seq(KvStreaming.KvChange(100L + i, "k1", s"y$i")).toDF(), i.toLong)
    }
    val pinnedB = UpsertSink.loadVersion(spark, dirB, 2L).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(pinnedB("k1") == "y2" && pinnedB("k2") == "x")
    val removedB = UpsertSink.vacuum(spark, dirB, keepLast = 1)
    // v2 is in the window and its manifest references v0 (untouched
    // buckets): v0 must survive even though the LATEST manifest also
    // references it — the invariant is it survives through ANY root
    assert(!removedB.contains(0L) && !removedB.contains(2L))
    assert(UpsertSink.loadVersion(spark, dirB, 2L).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap == pinnedB,
      "pinned bucketed snapshot must keep resolving inside the window")
  }

  private def latestBytes(dir: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_LATEST"))
  private def putLatest(dir: String, bytes: Array[Byte]): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_LATEST"), bytes)
    // raw write bypasses Hadoop's ChecksumFileSystem — drop the stale
    // .crc sidecar or the next pointer read fails with ChecksumException
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "._LATEST.crc"))
  }

  test("a vacuum holding a pre-compact root never reclaims what the concurrent commit needs") {
    // The race: vacuum reads _LATEST, then a compact (or upsert) commits a
    // new version BEFORE vacuum's deletes run. Simulated deterministically
    // by restoring the stale pointer for the vacuum call: the dangerous
    // window is exactly "vacuum acts on a pointer one commit behind".
    val dir = tempDir("graft-upsertR1")
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
      (0 until 12).map(i => KvStreaming.KvChange(i.toLong, s"k$i", "x")).toDF(), 0L)
    (1 to 2).foreach { i =>
      UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
        Seq(KvStreaming.KvChange(100L + i, "k1", s"y$i")).toDF(), i.toLong)
    }
    def snapshot() = UpsertSink.loadBucketed(spark, dir).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    val snap = snapshot()
    val vPre = UpsertSink.latestVersion(spark, dir).get
    val stale = latestBytes(dir)

    // (a) compact commits vNew while the in-flight vacuum still holds vPre
    val vNew = UpsertSink.compact(spark, dir).get
    val fresh = latestBytes(dir)
    putLatest(dir, stale)
    val removed = UpsertSink.vacuum(spark, dir) // stale-rooted, no grace window
    putLatest(dir, fresh)
    assert(!removed.contains(vNew) && !removed.contains(vPre),
      s"stale vacuum must not touch its own root or the in-flight commit, removed $removed")
    assert(snapshot() == snap, "new commit's snapshot torn by a stale vacuum")
    assert(UpsertSink.loadVersion(spark, dir, vPre).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap == snap,
      "the root the vacuum held must still resolve in full")

    // (b) same window with an upsert commit: carried-forward bucket refs
    // are a subset of the stale root's live set, so they must all survive
    val stale2 = latestBytes(dir)
    val vPre2 = UpsertSink.latestVersion(spark, dir).get
    UpsertSink.upsertBatchBucketed(dir, nBuckets = 8)(
      Seq(KvStreaming.KvChange(200L, "k2", "z")).toDF(), 3L)
    val fresh2 = latestBytes(dir)
    putLatest(dir, stale2)
    val removed2 = UpsertSink.vacuum(spark, dir)
    putLatest(dir, fresh2)
    assert(!removed2.contains(vPre2))
    assert(snapshot() == snap.updated("k2", "z"),
      "upsert committed mid-vacuum lost a carried-forward bucket")
  }

  test("loadVersion mid-vacuum: covered readers resolve; a half-reclaimed version is a clean None") {
    // covered mid-read: the reader resolved its plan BEFORE vacuum ran;
    // the grace window is what keeps the already-resolved plan readable
    val dir = tempDir("graft-upsertR2")
    (0 to 4).foreach { i =>
      UpsertSink.upsertBatch(dir)(
        Seq(KvStreaming.KvChange(i.toLong, "k", s"v$i")).toDF(), i.toLong)
    }
    val midRead = UpsertSink.loadVersion(spark, dir, 2L).get // plan resolved, not collected
    UpsertSink.vacuum(spark, dir, keepLast = 2)              // vacuum runs mid-read
    assert(midRead.collect().map(_.getAs[String]("value")).toSeq == Seq("v2"),
      "a reader inside the grace window must survive a vacuum between resolve and collect")

    // uncovered: construct a version whose MANIFEST survives (its dir is
    // pinned by a newer manifest) while a dir it references is reclaimed.
    // kA and kB are picked to hash to different buckets so the manifest
    // chain fans out: v3 refs {v0,v2,v3}, v2 refs {v0,v1,v2} with v1 dead.
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    def bucketOf(k: String): Int = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8L)).cast("int")).head().getInt(0)
    val kA = "k1"
    val kB = (2 to 20).map(i => s"k$i").find(k => bucketOf(k) != bucketOf(kA)).get
    val dirB = tempDir("graft-upsertR3")
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
      (0 until 12).map(i => KvStreaming.KvChange(i.toLong, s"k$i", "x")).toDF(), 0L)
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
      Seq(KvStreaming.KvChange(101L, kA, "a1")).toDF(), 1L) // v1: kA's bucket
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
      Seq(KvStreaming.KvChange(102L, kB, "b1")).toDF(), 2L) // v2 manifest refs v1
    UpsertSink.upsertBatchBucketed(dirB, nBuckets = 8)(
      Seq(KvStreaming.KvChange(103L, kA, "a2")).toDF(), 3L) // v3 refs v2, drops v1
    def snapB() = UpsertSink.loadBucketed(spark, dirB).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    val expected = snapB()
    val removed = UpsertSink.vacuum(spark, dirB) // reclaims v1 only
    assert(removed == Seq(1L), s"expected exactly v1 reclaimed, got $removed")
    assert(new java.io.File(dirB, "_MANIFEST.v2").exists(),
      "setup must leave v2's manifest on disk (its dir is pinned by v3)")
    assert(UpsertSink.loadVersion(spark, dirB, 2L).isEmpty,
      "half-reclaimed version must resolve to None, not a plan that fails at collect")
    assert(snapB() == expected, "latest snapshot must be untouched")
  }
}
