package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites — one JVM-wide SparkSession. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[File]

  /** A fresh temp directory, removed with everything in it after this
    * suite (or at JVM exit, should the suite never finish). */
  def tempDir(prefix: String): String = {
    val d = SparkSpec.tempDir(prefix)
    tempDirs.synchronized(tempDirs += d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(SparkSpec.deleteRecursively))
    finally super.afterAll()
}

object SparkSpec {
  private val atExit = scala.collection.mutable.ArrayBuffer.empty[File]
  sys.addShutdownHook(atExit.synchronized(atExit.foreach(deleteRecursively)))

  /** A fresh temp directory, removed with everything in it at JVM exit
    * (`deleteOnExit` cannot remove a non-empty directory). */
  def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    atExit.synchronized(atExit += d)
    d
  }

  /** Deletes `f` and, for a directory, its contents; a symbolic link is
    * removed, never followed. */
  def deleteRecursively(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      // listFiles is null for a plain file and for a directory already gone
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  lazy val session: SparkSession = {
    // local[8, 2]: maxFailures=2 so task retry is live, as on a real
    // cluster — the crash-parity test (SchedulerParitySpec) induces
    // attempt-0 failures and asserts golden output after retry.
    val s = SparkSession.builder()
      .master("local[8, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      // the production codegen-cache size and class naming, so warm test
      // runs behave as every graft entry point does (see GraftSession)
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        GraftSession.CodegenCacheEntries.toLong)
      .config(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key, "false")
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
