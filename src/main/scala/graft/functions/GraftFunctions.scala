package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions

/** SQL registration for the engine's native expressions — via
  * SparkSessionExtensions (cluster deployments: spark.sql.extensions=
  * graft.functions.GraftExtensions) or imperatively per session.
  */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "graft_l2sq" -> (exprs => L2SquaredDistance(exprs(0), exprs(1))),
    "graft_weighted_overlap" -> (exprs => WeightedOverlap(exprs(0), exprs(1))),
    "graft_minhash" -> (exprs => MinHashSignature(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].intValue())),
    "graft_simhash" -> (exprs => SimHashSketch(exprs(0))),
    "graft_hyperplane_bands" -> (exprs => HyperplaneBandsExpr(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].intValue(),
      exprs(3).eval().asInstanceOf[Number].intValue())),
    "graft_gram_md5" -> (exprs => GramMd5Hashes(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Boolean])),
    "graft_winnow" -> (exprs => WinnowMinima(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue())),
    "graft_md5long" -> (exprs => Md5Long60Expr(exprs(0))),
    "graft_round_half_up" -> (exprs => RoundHalfUp(exprs(0))),
    "graft_ws_tokens" -> (exprs => WsTokensExpr(exprs(0))),
    "graft_char_bigrams" -> (exprs => CharBigramCodesExpr(exprs(0))),
    "graft_nfc" -> (exprs => NfcNormalize(exprs(0))),
    "graft_strip_accents" -> (exprs => StripAccents(exprs(0))),
    // graft_multi_match(text, t1, t2, ...): the term list is a constant
    // (foldable varargs tail), the automaton builds once per plan
    "graft_multi_match" -> (exprs => MultiMatch(exprs.head,
      exprs.tail.map(_.eval().toString))),
    // graft_multi_count(text, t1, t2, ...): per-term non-overlapping
    // counts in sorted-distinct-term order (same constant-list contract)
    "graft_multi_count" -> (exprs => MultiCount(exprs.head,
      exprs.tail.map(_.eval().toString))))

  /** Imperative registration on an existing session: the SQL names plus
    * the [[FuseVectorFolds]] cost rewrite (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(FuseVectorFolds))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseVectorFolds
    if (!spark.experimental.extraOptimizations.contains(FuseContainsChain))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseContainsChain
  }
}

/** Extension entry point: SparkSession.builder().withExtensions(...) or
  * the spark.sql.extensions conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[CosineSimilarity].getName, name),
        builder))
    }
    e.injectOptimizerRule(_ => FuseVectorFolds)
    e.injectOptimizerRule(_ => FuseContainsChain)
  }
}
