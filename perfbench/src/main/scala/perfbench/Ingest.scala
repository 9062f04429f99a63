package perfbench

import scala.collection.mutable

import graft.kv.{KvOp, KvStore}
import graft.streaming.{KvStreaming, NearDupStream, UpsertSink}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import Harness._

final case class Doc(doc_id: Long, text: String)

/** The two ingest streams over one directory: documents through
  * `NearDupStream.dedupBatch` (store compaction on) and KV ops through
  * `KvStreaming.changeFeed` into `UpsertSink.upsertBatchBucketed`, both
  * driven by `writeStream.foreachBatch`. */
final class IngestStream(spark: SparkSession, val root: String) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val store = s"$root/store"
  val kept = s"$root/kept"
  val table = s"$root/kv"
  private val docIn = MemoryStream[Doc]
  private val opIn = MemoryStream[KvOp]

  /** Wall seconds spent compacting the dedup store. */
  @volatile var compactS = 0.0

  // Store compaction on: the same call, at the same batches, that
  // `dedupBatch(compactEvery = CompactEvery)` makes first thing; made here
  // so its time can be read (streaming jobs all carry the stream's call site)
  val docQuery: StreamingQuery = docIn.toDF().writeStream
    .foreachBatch { (df: DataFrame, id: Long) =>
      if (id > 0 && id % IngestStream.CompactEvery == 0) {
        val t0 = nowNs()
        NearDupStream.compactStore(df.sparkSession, store, upTo = id)
        compactS += (nowNs() - t0) / 1e9
      }
      NearDupStream.dedupBatch(store, kept)(df, id)
    }
    .option("checkpointLocation", s"$root/ckpt-docs")
    .start()

  val kvQuery: StreamingQuery = KvStreaming.changeFeed(spark, opIn.toDS())
    .writeStream
    .foreachBatch((ds: Dataset[KvStreaming.KvChange], id: Long) =>
      UpsertSink.upsertBatchBucketed(table, nBuckets = IngestStream.Buckets)(ds.toDF(), id))
    .outputMode(OutputMode.Append())
    .option("checkpointLocation", s"$root/ckpt-kv")
    .start()

  /** Submits one micro-batch to each stream and waits for both commits;
    * returns the wall seconds from submission to the second
    * `processAllAvailable()` returning. */
  def write(docs: Seq[Doc], ops: Seq[KvOp], tr: Tracer, exec: String): Double = {
    val t0 = nowNs()
    tr.span("streaming", "dedup_batch", exec) {
      docIn.addData(docs)
      docQuery.processAllAvailable()
    }
    tr.span("streaming", "upsert", exec) {
      opIn.addData(ops)
      kvQuery.processAllAvailable()
    }
    (nowNs() - t0) / 1e9
  }

  /** Point read of `key` through the committed bucketed snapshot. */
  def read(key: String, tr: Tracer, exec: String): (Double, Option[String]) = {
    val t0 = nowNs()
    val v = tr.span("streaming", "load", exec) {
      UpsertSink.loadBucketed(spark, table)
        .map(_.filter(col("key") === key).select("value").collect().map(_.getString(0)))
        .flatMap(_.headOption)
    }
    ((nowNs() - t0) / 1e9, v)
  }

  def filesPerRead: Int = UpsertSink.loadBucketed(spark, table).map(_.inputFiles.length).getOrElse(0)

  def bytes: Long = dirBytes(store) + dirBytes(kept) + dirBytes(table)

  def stop(): Unit = { docQuery.stop(); kvQuery.stop() }

  /** Kept doc ids per stream batch id. */
  def keptIds(): Map[Long, Set[Long]] =
    if (dirBytes(kept) == 0) Map.empty
    else spark.read.parquet(kept).select("batch", "doc_id").collect()
      .groupBy(_.getAs[Any]("batch").toString.toLong)
      .map { case (b, rs) => b -> rs.map(_.getLong(1)).toSet }

  /** Expected values of point reads `(readIdx, key, afterSeq)` from
    * `KvStore.replayHolistic` over the ops committed by then. */
  def expectedReads(ops: Seq[KvOp], reads: Seq[(Int, String, Long)]): Map[Int, String] = {
    val byKey = ops.groupBy(_.key)
    val expanded = reads.flatMap { case (i, key, upTo) =>
      byKey.getOrElse(key, Nil).filter(_.seq <= upTo).map(o => o.copy(key = i.toString))
    }
    KvStore.replayHolistic(spark, expanded.toDS()).collect()
      .map { case (k, v) => k.toInt -> v }.toMap
  }

  def snapshot(): Map[String, String] =
    UpsertSink.loadBucketed(spark, table).map(_.select("key", "value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap).getOrElse(Map.empty)
}

object IngestStream {
  val CompactEvery = 4
  val Buckets = 16
}

/** Per-step inputs of the ingest workload, collected once to the driver. */
final case class IngestData(
    docs: Map[Long, Seq[(Doc, String)]], ops: Map[Long, Seq[KvOp]], reads: Map[Long, Seq[String]]) {
  def batches: Int = docs.size
}

object IngestData {
  def load(spark: SparkSession, dir: String): IngestData = {
    val docs = spark.read.parquet(s"$dir/docs.parquet").collect().toSeq
      .groupBy(_.getAs[Long]("batch")).map { case (b, rs) =>
        b -> rs.sortBy(_.getAs[Long]("doc_id")).map(r =>
          (Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text")), r.getAs[String]("kind")))
      }
    val ops = spark.read.parquet(s"$dir/kv_ops.parquet").collect().toSeq
      .groupBy(_.getAs[Long]("batch")).map { case (b, rs) =>
        b -> rs.map(r => KvOp(r.getAs[Long]("seq"), r.getAs[String]("op"),
          r.getAs[String]("key"), r.getAs[String]("value"))).sortBy(_.seq)
      }
    val reads = spark.read.parquet(s"$dir/reads.parquet").collect().toSeq
      .groupBy(_.getAs[Long]("batch")).map { case (b, rs) => b -> rs.map(_.getAs[String]("key")) }
    IngestData(docs, ops, reads)
  }
}

/** Drives an [[IngestStream]] step by step and checks every write and read:
  * the dedup decisions against the planted ground truth (uniques kept,
  * exact and near duplicates dropped), every point read and the final table
  * against `KvStore.replayHolistic`. */
final class IngestRun(spark: SparkSession, val root: String, data: IngestData) {
  deleteTree(root)
  val stream = new IngestStream(spark, root)
  val writeS = mutable.ArrayBuffer.empty[Double]
  val stepTraced = mutable.ArrayBuffer.empty[Boolean]
  val readS = mutable.ArrayBuffer.empty[Double]
  val readTraced = mutable.ArrayBuffer.empty[Boolean]
  private val readLog = mutable.ArrayBuffer.empty[(Int, String, Long, Option[String])]
  var userBytes = 0L
  var writtenBytes = 0L
  var tracedUserBytes = 0L
  val filesPerRead = mutable.ArrayBuffer.empty[Int]

  def steps: Int = writeS.size

  def step(tr: Tracer, exec: String): Unit = {
    val b = steps.toLong
    val d = data.docs(b).map(_._1)
    val o = data.ops(b)
    val before = if (tr.enabled) stream.bytes else 0L
    writeS += stream.write(d, o, tr, exec)
    stepTraced += tr.enabled
    val ub = d.map(_.text.length.toLong).sum + o.map(x => x.key.length + x.value.length + 16L).sum
    userBytes += ub
    if (tr.enabled) {
      writtenBytes += math.max(0L, stream.bytes - before)
      tracedUserBytes += ub
      filesPerRead += stream.filesPerRead
    }
    val upTo = o.last.seq
    data.reads(b).foreach { k =>
      val (s, v) = stream.read(k, tr, exec)
      readS += s
      readTraced += tr.enabled
      readLog += ((readLog.size, k, upTo, v))
    }
  }

  /** Stops the streams and records one checked execution per write, per
    * read and for the final table. */
  def finish(rec: Recorder, phase: String): Unit = {
    stream.stop()
    val kept = stream.keptIds()
    writeS.zipWithIndex.foreach { case (s, b) =>
      val want = data.docs(b.toLong).filter(_._2 == "unique").map(_._1.doc_id).toSet
      val got = kept.getOrElse(b.toLong, Set.empty)
      val ok = got == want
      rec.add(Exec("write", phase, s, ok,
        if (ok) "" else s"batch $b kept ${got.size} docs, expected ${want.size}"))
    }
    val ops = (0 until steps).flatMap(b => data.ops(b.toLong))
    val want = stream.expectedReads(ops, readLog.map(r => (r._1, r._2, r._3)).toSeq)
    readLog.zip(readS).foreach { case ((i, k, _, got), s) =>
      val ok = got == want.get(i)
      rec.add(Exec("read", phase, s, ok, if (ok) "" else s"read of $k differs"))
    }
    val finalWant = KvStore.replayHolistic(spark, {
      import spark.implicits._
      ops.toDS()
    }).collect().toMap
    val ok = stream.snapshot() == finalWant
    rec.add(Exec("table", phase, 0.0, ok, if (ok) "" else "final table differs"))
  }
}

/** The `ingest` workload: closed loop, one producer; each step writes one
  * document micro-batch and one KV micro-batch, then issues point reads. */
final class IngestWorkload(a: Args, rec: Recorder) extends Workload {
  private var data: IngestData = _
  private val off = new Tracer(false, null)

  private def scratch(spark: SparkSession, phase: String, steps: Int): Unit = {
    if (data == null) data = IngestData.load(spark, s"${a.input}/stream")
    val r = new IngestRun(spark, s"${a.work}/ingest-$phase", data)
    (0 until steps).foreach(_ => r.step(off, ""))
    r.finish(rec, phase)
    deleteTree(r.root)
  }

  def firstUse(spark: SparkSession, round: Int): Unit = scratch(spark, s"setup$round", 1)

  def warmUp(spark: SparkSession): Unit = scratch(spark, "warmup", 2)

  def measure(spark: SparkSession, tr: Tracer, out: Json): Unit = {
    val r = new IngestRun(spark, s"${a.work}/ingest", data)
    // every run reaches at least one store compaction
    val minSteps = IngestStream.CompactEvery + 1
    val t0 = nowNs()
    while (r.steps < minSteps || ((nowNs() - t0) / 1e9 < a.seconds && r.steps < data.batches)) {
      // traced runs alternate untraced and traced steps, so both see the
      // same store growth
      val traced = tr.enabled && r.steps % 2 == 1
      r.step(if (traced) tr else off, s"step${r.steps}")
    }
    val loopS = (nowNs() - t0) / 1e9
    val heap = usedHeapMb()
    val plain = r.writeS.zip(r.stepTraced).filterNot(_._2).map(_._1)
    out.arr("pass_s", plain.toSeq)
    out.arr("query_s", r.readS.zip(r.readTraced).filterNot(_._2).map(_._1).toSeq)
    out.arr("heap_mb", Seq(heap))
    out.num("input_bytes", r.userBytes.toDouble)
    out.num("loop_s", loopS)
    if (tr.enabled) {
      out.arr("traced_pass_s", r.writeS.zip(r.stepTraced).filter(_._2).map(_._1).toSeq)
      val ingest = IngestStats.of(spark, tr, r)
      r.finish(rec, "measure")
      val probes = Probes.run(spark, a, tr)
      out.raw("layers", Layers.metrics(tr, 0, a.workload, probes, Some(ingest)).render)
    } else r.finish(rec, "measure")
  }
}

/** Streaming-layer figures the spans alone cannot give. `streams` holds
  * the counters of both streaming queries (their jobs run under the
  * queries' own job groups) over all `steps` of the run. */
final case class IngestStats(
    streams: Counters, compactS: Double, writeAmp: Double, storeMb: Double,
    filesPerRead: Double, steps: Int)

object IngestStats {
  def of(spark: SparkSession, tr: Tracer, r: IngestRun): IngestStats = {
    val groups = Seq(r.stream.docQuery.runId.toString, r.stream.kvQuery.runId.toString)
    IngestStats(
      tr.listener.take(spark.sparkContext, groups),
      r.stream.compactS,
      r.writtenBytes.toDouble / math.max(1L, r.tracedUserBytes),
      r.stream.bytes / 1048576.0,
      r.filesPerRead.sum.toDouble / math.max(1, r.filesPerRead.size),
      r.steps)
  }
}
