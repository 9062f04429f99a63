package graft

import graft.tables.Tables

/** SQL-facing parity (SURVEY.md §7 M4): the engine's tables register as
  * views and arbitrary spark.sql text works against them, agreeing with
  * the DataFrame results.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("registerAll + spark.sql agree with the DataFrame catalog") {
    Tables.registerAll(spark, sf0001)
    val sqlRes = spark.sql(
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dfRes = {
      import org.apache.spark.sql.functions._
      Tables.lineitem(spark, sf0001)
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    assert(sqlRes == dfRes)
  }

  test("csv/json/orc/avro-free sinks and sources round-trip (format coverage)") {
    import spark.implicits._
    val dir = tempDir("graft-fmt")
    val df = Tables.nation(spark, sf0001)
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/n.csv")
    df.write.mode("overwrite").json(s"$dir/n.json")
    df.write.mode("overwrite").orc(s"$dir/n.orc")
    val csvBack = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/n.csv")
    val jsonBack = spark.read.json(s"$dir/n.json")
    val orcBack = spark.read.orc(s"$dir/n.orc")
    assert(csvBack.count() == df.count() && jsonBack.count() == df.count())
    assert(csvBack.columns.sorted.toSeq == df.columns.sorted.toSeq)
    assert(jsonBack.columns.sorted.toSeq == df.columns.sorted.toSeq)
    // ORC preserves the exact schema (typed columnar, like parquet)
    assert(orcBack.schema == df.schema)
    assert(orcBack.count() == df.count())
  }
}
