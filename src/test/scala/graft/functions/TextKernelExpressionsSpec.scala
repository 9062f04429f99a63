package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Equivalence pins for the round-8 per-task-work kernels: the native
  * md5-60bit scalar and whitespace tokenizer must be bit-identical to
  * the composed-builtin spellings they replace in TextAnalysis — on the
  * real corpus AND on adversarial strings (unicode, empty, whitespace
  * runs, every ASCII whitespace class).
  */
class TextKernelExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val md5Composed = (c: org.apache.spark.sql.Column) =>
    conv(substring(md5(c), 18, 15), 16, 10).cast("long")
  private val wsComposed = (c: org.apache.spark.sql.Column) =>
    filter(split(c, "\\s+"), t => t =!= "")

  private val adversarial = Seq(
    "", " ", "   ", "\t\n\f\r ", "a", " a ", "a b", "a  b",
    "\ta\nb\r", "héllo wörld", "日本語 テスト", "é combining",
    "tab\tsep", "nl\nsep", "cr\rsep", "vtsep", "ff\fsep",
    "mixed \t\r\n runs \f between  tokens ",
    "x" * 500, ("tok " * 100).trim, " nbsp is not ws ",
    "ideographic　space stays one token?")

  test("graft_md5long == conv(substring(md5, 18, 15), 16, 10) on real docs") {
    val df = spark.read.parquet(s"$sf001/documents.parquet")
    val bad = df.select(
        TextKernelFunctions.graftMd5Long($"text").as("a"),
        md5Composed($"text").as("b"))
      .filter($"a" =!= $"b").count()
    assert(bad == 0)
  }

  test("graft_md5long matches on adversarial strings incl. unicode") {
    val df = adversarial.toDF("s")
    val rows = df.select(TextKernelFunctions.graftMd5Long($"s").as("a"),
      md5Composed($"s").as("b")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_md5long null in, null out") {
    val r = Seq[Option[String]](None).toDF("s")
      .select(TextKernelFunctions.graftMd5Long($"s")).head
    assert(r.isNullAt(0))
  }

  test("shiftright(graft_md5long, 8) is a 52-bit draw, exact as a double, equal to the replay") {
    // the width q247/q267 rank on as Double, q274 divides by 2^52 + 1
    // and q291 guards with + 2^52
    val strs = adversarial ++ (0 until 2000).map(i => s"$i|draw")
    val rows = strs.toDF("s")
      .select($"s", shiftright(TextKernelFunctions.graftMd5Long($"s"), 8).as("d"))
      .select($"s", $"d", $"d".cast("double").cast("long").as("rt"))
      .collect()
    rows.foreach { r =>
      val (s, d) = (r.getString(0), r.getLong(1))
      assert(d >= 0L && d < (1L << 52), s"'$s': $d outside [0, 2^52)")
      assert(r.getLong(2) == d, s"'$s': $d does not round-trip through double")
      assert(d == graft.HashReplay.md5Long(s) >> 8, s"'$s': replay differs")
    }
    assert(rows.map(_.getLong(1)).max >= (1L << 51), "draw narrower than 52 bits")
  }

  test("graft_ws_tokens == filter(split(s, \\\\s+), <> '') on real docs") {
    val df = spark.read.parquet(s"$sf001/documents.parquet")
    val bad = df.select(
        TextKernelFunctions.graftWsTokens($"text").as("a"),
        wsComposed($"text").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(bad == 0)
  }

  test("graft_ws_tokens matches on adversarial strings") {
    val df = adversarial.toDF("s")
    val rows = df.select(
      TextKernelFunctions.graftWsTokens($"s").as("a"),
      wsComposed($"s").as("b")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"on ${r}")
    }
  }

  test("graft_ws_tokens: interpreted eval path agrees with codegen") {
    // force the interpreted path through a deserialized Dataset map
    val viaEval = adversarial.map(s =>
      WsTokensExpr.compute(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString).toSeq)
    val viaCodegen = adversarial.toDF("s")
      .select(TextKernelFunctions.graftWsTokens($"s"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(viaEval == viaCodegen)
  }

  // the composed spelling graft_char_bigrams replaces in q239: every
  // adjacent char pair matching ^[a-z ]{2}$, mapped to c1·27 + c2
  private val bigramComposed = (c: org.apache.spark.sql.Column) =>
    transform(
      filter(
        transform(sequence(lit(1), greatest(length(c) - 1, lit(0))),
          i => c.substr(i, lit(2))),
        g => g.rlike("^[a-z ]{2}$")),
      g => (when(substring(g, 1, 1) === " ", 26)
          .otherwise(ascii(substring(g, 1, 1)) - 97) * 27 +
        when(substring(g, 2, 1) === " ", 26)
          .otherwise(ascii(substring(g, 2, 1)) - 97)).cast("int"))

  private val bigramAdversarial = adversarial ++ Seq(
    "ab", "a b", "zz zz", "ABC abc", "a1b2 cd", "{a}[b]",
    "éa aé aa é", "日a a日 ab", "aéb", "aéz zz", "emoji 😀 ab",
    "trailing a", "a", "z", " ", "  ", "az za")

  test("graft_char_bigrams == substring+rlike spelling on real docs") {
    val df = spark.read.parquet(s"$sf001/documents.parquet")
    val bad = df.select(
        TextKernelFunctions.graftCharBigrams($"text").as("a"),
        bigramComposed($"text").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(bad == 0)
  }

  test("graft_char_bigrams matches on adversarial strings incl. unicode") {
    val df = bigramAdversarial.toDF("s")
    val rows = df.select(
      TextKernelFunctions.graftCharBigrams($"s").as("a"),
      bigramComposed($"s").as("b"), $"s").collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), s"on '${r.getString(2)}'")
    }
  }

  test("graft_char_bigrams: interpreted eval path agrees with codegen") {
    val viaEval = bigramAdversarial.map(s =>
      CharBigramCodesExpr.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .toIntArray().toSeq)
    val viaCodegen = bigramAdversarial.toDF("s")
      .select(TextKernelFunctions.graftCharBigrams($"s"))
      .collect().map(_.getSeq[Int](0)).toSeq
    assert(viaEval == viaCodegen)
  }

  test("graft_char_bigrams null in, null out") {
    val r = Seq[Option[String]](None).toDF("s")
      .select(TextKernelFunctions.graftCharBigrams($"s")).head
    assert(r.isNullAt(0))
  }

  test("SQL surface: graft_md5long and graft_ws_tokens registered") {
    val r = spark.sql(
      "SELECT graft_md5long('abc') AS h, graft_ws_tokens(' a  b ') AS t").head
    val want = spark.sql(
      "SELECT cast(conv(substring(md5('abc'), 18, 15), 16, 10) AS bigint)").head
    assert(r.getLong(0) == want.getLong(0))
    assert(r.getSeq[String](1) == Seq("a", "b"))
  }
}
