package graft.functions

import graft.SparkSpec
import graft.textops.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Contract of the native Σmin kernel `graft_weighted_overlap` over two
  * ascending (key, count) lists.
  */
class WeightedOverlapExpressionSpec extends SparkSpec with graft.PropHelper {
  import spark.implicits._

  private def overlap(a: Column, b: Column) =
    WeightedOverlapFunctions.graftWeightedOverlap(a, b)

  /** The composed higher-order form the kernel replaces. */
  private def composed(a: Column, b: Column) =
    aggregate(map_values(map_zip_with(map_from_entries(a), map_from_entries(b),
        (_, x, y) => least(coalesce(x, lit(0L)), coalesce(y, lit(0L))))),
      lit(0L), (acc, x) => acc + x)

  /** Each sf0.001 doc's sorted (md5Long token, count) list, doc-paired
    * with its successor: real token skew, real list lengths.
    */
  private lazy val docPairs = {
    val lists = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", explode(TextAnalysis.wsTokens($"text")).as("tok"))
      .groupBy($"doc_id", TextAnalysis.md5Long($"tok").as("t"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct($"t", $"c"))).as("l"))
    lists.select($"doc_id", $"l".as("la"))
      .join(lists.select(($"doc_id" - 1).as("doc_id"), $"l".as("lb")), "doc_id")
  }

  private def rootMessages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("on real token lists: equals the composed map_zip_with Σmin, codegen and interpreted alike") {
    def run(): Map[Long, (Long, Long)] = docPairs
      .select($"doc_id", overlap($"la", $"lb"), composed($"la", $"lb"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val withCodegen = run()
    assert(withCodegen.values.exists(_._1 > 0), "no doc pair shares a token")
    withCodegen.foreach { case (id, (native, ref)) =>
      assert(native == ref, s"doc $id: kernel $native vs composed $ref") }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == withCodegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null in gives null out; an empty list overlaps nothing") {
    val some = Some(Seq(1L -> 2L, 5L -> 3L))
    val none = Option.empty[Seq[(Long, Long)]]
    val rows = Seq((some, none), (none, some), (Some(Seq.empty[(Long, Long)]), some),
        (some, Some(Seq.empty[(Long, Long)])))
      .toDF("a", "b").select(overlap($"a", $"b")).collect()
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0))
    assert(rows(2).getLong(0) == 0L && rows(3).getLong(0) == 0L)
  }

  test("property: equals the composed form on generated count maps") {
    // a small key domain, so the two lists share many keys
    val countMap = Gen.mapOf(Gen.zip(Gen.chooseNum(-20L, 20L), Gen.chooseNum(0L, 9L)))
      .map(_.toSeq.sortBy(_._1))
    val batch = Gen.listOfN(20, Gen.zip(countMap, countMap))
    checkProp(org.scalacheck.Prop.forAll(batch) { pairs =>
      pairs.toDF("a", "b").select(overlap($"a", $"b"), composed($"a", $"b"))
        .collect().forall(r => r.getLong(0) == r.getLong(1))
    }, minSuccessful = 20)
  }

  test("fails loudly on an unsorted list or a repeated key") {
    val ok = Seq(1L -> 1L, 2L -> 1L)
    Seq(Seq(3L -> 1L, 1L -> 1L), Seq(1L -> 1L, 1L -> 2L)).foreach { bad =>
      val e = intercept[Exception](
        Seq((ok, bad)).toDF("a", "b").select(overlap($"a", $"b")).collect())
      assert(rootMessages(e).contains("graft_weighted_overlap: keys must be strictly ascending"),
        rootMessages(e))
    }
  }

  test("graft_weighted_overlap is callable from SQL and agrees with the Column API") {
    val got = docPairs.selectExpr("doc_id", "graft_weighted_overlap(la, lb) AS w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docPairs.select($"doc_id", overlap($"la", $"lb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == want)
  }
}
