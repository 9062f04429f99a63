package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Native multiset overlap: `graft_weighted_overlap(a, b)` → bigint, the
  * Σ min(ca, cb) over keys t present in both count lists — the
  * intersection weight of weighted (bag) jaccard.
  *
  * Each argument is one document's `sort_array(collect_list(struct(t,
  * c)))`: an array<struct<bigint, bigint>> of (key, count) entries in
  * strictly ascending key order. The kernel is a single merge walk over
  * the two lists; an unsorted list, a repeated key or a null entry fails
  * loudly (a silent skip would undercount the overlap). Null in gives
  * null out; an empty list overlaps nothing (0).
  *
  * For non-negative counts it equals the composed
  * `aggregate(map_values(map_zip_with(ma, mb, (k, a, b) ->
  * least(coalesce(a, 0), coalesce(b, 0)))), 0, +)` over the two lists'
  * maps, asserted in WeightedOverlapExpressionSpec. The difference is
  * cost: the composed form builds two hash maps and a zipped map per
  * row and runs both lambdas interpreted; this is one primitive loop
  * with no allocation beyond the entry views, inside the enclosing
  * whole-stage codegen stage.
  */
case class WeightedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StructType(Array(k, c)), _) =>
        k.dataType == LongType && c.dataType == LongType
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_weighted_overlap expects two array<struct<bigint, bigint>> args, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_weighted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    WeightedOverlap.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val helper = WeightedOverlap.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WeightedOverlap {

  /** Merge walk over two ascending (key, count) lists, shared by eval
    * and codegen. Both lists are validated in full first, so a bad list
    * fails even where the walk would stop before reaching its fault.
    */
  def compute(a: ArrayData, b: ArrayData): Long = {
    checkAscending(a)
    checkAscending(b)
    val na = a.numElements()
    val nb = b.numElements()
    var acc = 0L
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getStruct(i, 2)
      val y = b.getStruct(j, 2)
      val tx = x.getLong(0)
      val ty = y.getLong(0)
      if (tx < ty) i += 1
      else if (tx > ty) j += 1
      else {
        acc += math.min(x.getLong(1), y.getLong(1))
        i += 1
        j += 1
      }
    }
    acc
  }

  private def checkAscending(xs: ArrayData): Unit = {
    var prev = 0L
    var i = 0
    while (i < xs.numElements()) {
      val e = if (xs.isNullAt(i)) null else xs.getStruct(i, 2)
      if (e == null || e.anyNull)
        throw new IllegalArgumentException(
          s"graft_weighted_overlap: null (key, count) entry at position $i")
      val t = e.getLong(0)
      if (i > 0 && t <= prev)
        throw new IllegalArgumentException(
          s"graft_weighted_overlap: keys must be strictly ascending, " +
            s"but position $i holds $t after $prev")
      prev = t
      i += 1
    }
  }
}

object WeightedOverlapFunctions {
  /** Σ min(count) over the keys two sorted (key, count) lists share. */
  def graftWeightedOverlap(a: Column, b: Column): Column =
    Bridge.column(WeightedOverlap(Bridge.expression(a), Bridge.expression(b)))
}
