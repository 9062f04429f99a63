package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites — one JVM-wide SparkSession. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
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
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      // the production codegen-cache size, so warm test runs behave as
      // every graft entry point does (see GraftSession.CodegenCacheEntries)
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        GraftSession.CodegenCacheEntries.toLong)
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
