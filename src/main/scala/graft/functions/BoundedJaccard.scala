package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The whole pairwise-Jaccard verify step as ONE expression:
  * `bounded_jaccard(a, b, t)` = the exact Jaccard of two sorted distinct
  * long-hash sets when it can reach `t`, `-1.0` when the positional
  * early-abort proves it cannot ([[SortedIntersectSizeBounded]]'s bound),
  * `0.0` for the empty-vs-empty pair (the ANSI 0/0 guard), and NULL when
  * a null element poisons the pair. Callers filter `>= t`.
  *
  * Why one node (optimization round 21): the r20 formulation — a bounded
  * intersect column, a `>= 0` filter, a zero-guard CASE, a division and a
  * threshold filter — was algebraically correct but optimizer-hostile:
  * predicate pushdown substituted the kernel through every alias and
  * collapsed it into the join condition, so the two-pointer merge ran up
  * to 4x per surviving pair (plans/r20/x3_dedup_ngram_after.txt:79-82).
  * One expression leaves nothing to duplicate, and `deterministic =
  * false` (the guide-§4.4 fence — the expression IS pure; the flag only
  * forbids the optimizer to reorder, duplicate or fold it) keeps the
  * threshold filter ABOVE the projection, referencing the attribute: one
  * kernel evaluation per candidate pair, aborted pairs exit at the filter
  * inside the same codegen stage. PlanSpec's "optimizer fences" row fails
  * if an optimizer change ever puts a second copy of the kernel in a plan.
  *
  * Bit-exactness vs the replaced chain (oracle-pinned): `required` is the
  * same `floor(c * (|a|+|b|))` with c = t/(1+t) precomputed as a double;
  * the division is the same `n / ((|a|+|b|) - n)` over doubles; the merge
  * is the same [[SortedIntersectSizeBounded.count]] kernel.
  */
case class BoundedJaccard(left: Expression, right: Expression, minJaccard: Double)
    extends BinaryExpression {

  // the optimizer fence — see class doc; the expression itself is pure
  override lazy val deterministic: Boolean = false

  private val coef: Double = minJaccard / (1.0 + minJaccard)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "bounded_jaccard needs (array<bigint>, array<bigint>), got " +
            s"${left.dataType} / ${right.dataType}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = BoundedJaccard.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], coef)
    if (java.lang.Double.isNaN(r)) null else r
  }

  // calls the shared precompiled kernel (the r20 static-kernel JIT
  // discipline); NaN is the null-poison sentinel — real outputs are -1.0
  // or [0, 1], never NaN
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("bj")
      // java.lang.Double.toString round-trips, so the embedded literal
      // parses back to the exact same double
      s"""
         |final double $res = graft.functions.BoundedJaccard.compute($a, $b, $coef);
         |if (Double.isNaN($res)) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object BoundedJaccard {

  def apply(a: Column, b: Column, minJaccard: Double): Column =
    GraftBridge.toColumn(BoundedJaccard(
      GraftBridge.toExpression(a), GraftBridge.toExpression(b), minJaccard))

  /** Shared by eval and generated code. NaN = a null element poisoned the
    * pair (becomes SQL NULL); -1.0 = provably below the threshold whose
    * c = t/(1+t) is given; else the exact Jaccard (0.0 for empty-empty).
    */
  def compute(x: ArrayData, y: ArrayData, c: Double): Double = {
    val xn = x.numElements()
    val yn = y.numElements()
    val required = math.floor(c * (xn + yn)).toInt
    val n = SortedIntersectSizeBounded.count(x, y, required)
    if (n == Integer.MIN_VALUE) return Double.NaN
    if (n < 0) return -1.0
    val denom = (xn + yn).toDouble - n.toDouble
    if (denom == 0.0) 0.0 else n.toDouble / denom
  }
}
