package graft

import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Catalog-wide invariants + spot value checks on sf0.001. */
class CatalogSpec extends SparkSpec {

  test("catalog names are unique and every oracle has a query") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every catalog query runs on sf0.001 and returns rows") {
    // run the whole catalog and fail ONCE with every broken query: an
    // abort at the first failure would leave every later query unchecked.
    // Codegen fallback is off for the run: a stage whose generated code
    // does not compile (say, a method past the 64 KB limit) fails its
    // query here instead of silently running interpreted. Each result is
    // collected in full, because a count() plan prunes the projections
    // that such a stage would compute.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val failures = try SparkEntry.catalog.flatMap { q =>
      Try(q.fn(spark, sf0001).collect().length) match {
        case Success(n) if n > 0 => None
        case Success(_) => Some(s"${q.name}: returned 0 rows")
        case Failure(e) => Some(s"${q.name}: ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    assert(failures.isEmpty, s"${failures.size} of ${SparkEntry.catalog.size} " +
      s"catalog queries failed:\n${failures.mkString("\n")}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg values: counts sum to filtered lineitem count") {
    val df = SparkEntry.queries("q1_agg")(spark, sf0001)
    val total = df.agg(sum("count_order")).head.getLong(0)
    val expect = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(total == expect)
  }

  test("q8_window_topk: exactly 3 rows per priority, rn in 1..3") {
    val df = SparkEntry.queries("q8_window_topk")(spark, sf0001)
    val perGroup = df.groupBy("o_orderpriority").count().collect()
    assert(perGroup.forall(_.getLong(1) == 3))
    assert(df.agg(max("rn")).head.getInt(0) == 3)
  }

  test("q20_outer_join covers every customer exactly once") {
    val df = SparkEntry.queries("q20_outer_join")(spark, sf0001)
    val nCust = spark.read.parquet(s"$sf0001/customer.parquet").count()
    assert(df.count() == nCust)
    assert(df.select("c_custkey").distinct().count() == nCust)
  }
}
