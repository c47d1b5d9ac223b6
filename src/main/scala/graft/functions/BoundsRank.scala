package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Rank of a value among ascending boundary cut points — the write-path
  * bucketizer behind [[graft.io.Store.writeZordered]]'s curve layout:
  * `rank(v) = #{ b in bounds : v > b }`, i.e. the index of the equal-mass
  * bucket `v` falls in.
  *
  * Replaces the `bounds.foldLeft(lit(0))((acc, b) => acc + when(v > b, 1)
  * .otherwise(0))` chain the stage used before (optimization round 21):
  * with 64 buckets per column that fold is a ~250-node expression tree
  * PER COLUMN that every staging write re-analyzes, re-optimizes and
  * re-compiles (driver planning cost on every lakehouse mutation), and
  * evaluates as 63 sequential compare+add branches per row (executor
  * cost on every written row). This expression is THREE plan nodes and a
  * binary search (6 compares for 64 buckets), and its generated code
  * CALLS the shared precompiled kernel (the r20 static-kernel JIT
  * discipline).
  *
  * Exact semantics of the replaced chain, pinned by ExtSpec's law test:
  *   - NULL input ranks 0 (the `when` condition is null -> otherwise 0),
  *     so the expression is NOT null-propagating and never null itself;
  *   - double compare is Spark SQL's ordering (`SQLOrderingUtil`): NaN
  *     compares greater than every non-NaN bound -> rank = bounds.length
  *     (bounds come from a NaN-free sample);
  *   - long compare is exact (no double round-trip — a 62-bit curve
  *     index does not fit a double mantissa).
  *
  * Equality compares the bounds by CONTENT (a case class compares array
  * fields by reference), so canonicalization, `semanticEquals` and CSE
  * match two instances built from equal cut points.
  */
case class BoundsRankDouble(child: Expression, bounds: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bounds_rank needs double, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else BoundsRankDouble.compute(v.asInstanceOf[Double], bounds)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val b = ctx.addReferenceObj("bounds", bounds, "double[]")
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        |${c.code}
        |int ${ev.value} = ${c.isNull} ? 0 :
        |  graft.functions.BoundsRankDouble.compute(${c.value}, $b);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def equals(other: Any): Boolean = other match {
    case r: BoundsRankDouble => child == r.child && java.util.Arrays.equals(bounds, r.bounds)
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + java.util.Arrays.hashCode(bounds)
}

object BoundsRankDouble {

  def apply(c: Column, bounds: Array[Double]): Column =
    GraftBridge.toColumn(BoundsRankDouble(GraftBridge.toExpression(c), bounds))

  /** Shared by eval, codegen and the driver-side sample twin. First index
    * whose bound is >= v under Spark's double ordering (NaN greatest).
    */
  def compute(v: Double, bounds: Array[Double]): Int = {
    if (java.lang.Double.isNaN(v)) return bounds.length
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v > bounds(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** [[BoundsRankDouble]]'s exact-integer sibling for the curve-index ->
  * output-file cut points (long curve values must not round-trip through
  * double). Same null-ranks-0 contract.
  */
case class BoundsRankLong(child: Expression, bounds: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bounds_rank needs bigint, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else BoundsRankLong.compute(v.asInstanceOf[Long], bounds)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val b = ctx.addReferenceObj("bounds", bounds, "long[]")
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        |${c.code}
        |int ${ev.value} = ${c.isNull} ? 0 :
        |  graft.functions.BoundsRankLong.compute(${c.value}, $b);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def equals(other: Any): Boolean = other match {
    case r: BoundsRankLong => child == r.child && java.util.Arrays.equals(bounds, r.bounds)
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + java.util.Arrays.hashCode(bounds)
}

object BoundsRankLong {

  def apply(c: Column, bounds: Array[Long]): Column =
    GraftBridge.toColumn(BoundsRankLong(GraftBridge.toExpression(c), bounds))

  def compute(v: Long, bounds: Array[Long]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v > bounds(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }
}
