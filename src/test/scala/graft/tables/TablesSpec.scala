package graft.tables

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** `Tables.load`'s schema memo: a table version's footer is read by one
  * Spark job the first time it loads, and never again while its files
  * and the session's parquet confs stay the same.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs launched while `body` runs, counted by a listener on a drained bus. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      Bridge.drainListenerBus(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Writes `df` as the single parquet file `dir/name.parquet`, replacing
    * any file there (a rewrite in place, as a regenerated table is). */
  private def writeTable(df: DataFrame, dir: String, name: String): Unit = {
    val staging = tempDir("tables-staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of an unchanged table launches no job") {
    val dir = tempDir("tables-warm")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "t")
    val (first, coldJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(coldJobs == 1, s"the first load reads the footer in one job, ran $coldJobs")
    val (second, warmJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(warmJobs == 0, s"a warm load launched $warmJobs jobs")
    assert(second.schema == first.schema)
    assert(second.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = tempDir("tables-rewrite")
    writeTable(Seq(1L, 2L).toDF("k"), dir, "t")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k"))
    writeTable(Seq((3L, "c", 0.5)).toDF("k", "v", "w"), dir, "t")
    val reread = Tables.load(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("k", "v", "w"), s"stale schema ${reread.schema}")
    assert(reread.as[(Long, String, Double)].collect().toSeq == Seq((3L, "c", 0.5)))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong infers the events schema again") {
    // an events fixture whose ts is parquet TIMESTAMP(NANOS): the conf
    // alone decides whether Spark may read it as Long nanos
    val dir = tempDir("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000001L).foreach { case (id, ts) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", ts))
    } finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    assert(before == "true")
    assert(Tables.events(spark, dir).schema("ts").dataType == LongType)
    assert(jobsOf(Tables.load(spark, dir, "events"))._2 == 0)
    spark.conf.set(key, "false")
    try {
      // with the conf off Spark refuses the column; a memo keyed without
      // the conf would hand back the Long schema instead
      val (outcome, jobs) = jobsOf(scala.util.Try(Tables.load(spark, dir, "events").schema))
      assert(jobs == 1, s"a changed conf must read the footer again, ran $jobs jobs")
      assert(outcome.map(_("ts").dataType != LongType).getOrElse(true),
        s"stale Long schema under $key=false: $outcome")
    } finally spark.conf.set(key, before)
    val (again, jobs) = jobsOf(Tables.events(spark, dir))
    assert(jobs == 0, "the original conf's schema is still memoized")
    assert(again.as[(Long, Long)].collect().toSeq ==
      Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000001L))
  }

  test("four concurrent loads of one table all return the inferred schema") {
    val dir = tempDir("tables-concurrent")
    writeTable(Seq((1L, 2.0, "x")).toDF("a", "b", "c"), dir, "t")
    val expected = spark.read.parquet(s"$dir/t.parquet").schema
    implicit val ec: ExecutionContext = ExecutionContext.global
    val loads = Seq.fill(4)(Future(Tables.load(spark, dir, "t").schema))
    val schemas = Await.result(Future.sequence(loads), 2.minutes)
    assert(schemas.forall(_ == expected), s"$schemas vs $expected")
  }
}
