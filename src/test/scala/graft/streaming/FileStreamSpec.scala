package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Full file-based streaming path: parquet files arriving in a directory
  * drive a readStream → windowed aggregation → writeStream(parquet)
  * pipeline with checkpointing — the deployment shape of the engine's
  * streaming surface (events land in object storage, the stream keeps
  * running totals). Restart resumes from the checkpoint without
  * reprocessing (exactly-once file sink).
  */
class FileStreamSpec extends SparkSpec {
  import spark.implicits._

  test("parquet file stream -> windowed agg -> parquet sink, with restart") {
    val base = tempDir("graft-stream")
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    new java.io.File(inDir).mkdirs()

    val events = graft.tables.Tables.events(spark, sf0001)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // first batch of files
    events.filter($"event_id" < 500).write.parquet(s"$inDir/batch0")

    val schema = events.schema
    def startQuery() = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(s"$inDir/*")
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"event_type", $"n")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()

    val q1 = startQuery()
    q1.awaitTermination(120000)
    // second wave of files + late-window closer, then restart from checkpoint
    events.filter($"event_id" >= 500).write.parquet(s"$inDir/batch1")
    val q2 = startQuery()
    q2.awaitTermination(120000)

    val out = spark.read.parquet(outDir)
    // append mode emits only watermark-closed windows; everything emitted
    // must match the batch computation for those windows
    val batchRes = events
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"event_type", $"n")
    val got = out.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = batchRes.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty, "stream emitted nothing")
    got.foreach { case (k, n) =>
      assert(want.get(k).contains(n), s"window $k: stream=$n batch=${want.get(k)}")
    }
  }
}
