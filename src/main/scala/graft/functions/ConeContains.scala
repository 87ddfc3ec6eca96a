package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.DoubleType

/** Haversine separation kernel (degrees in). */
object ConeContainsKernel {
  def sepDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val dDec = math.toRadians(dec1 - dec2) / 2.0
    val dRa = math.toRadians(ra1 - ra2) / 2.0
    val h = math.sin(dDec) * math.sin(dDec) +
      math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) *
        math.sin(dRa) * math.sin(dRa)
    math.toDegrees(2.0 * math.asin(math.min(1.0, math.sqrt(h))))
  }
}

/** Declarative cone-membership predicate:
  * `ConeContains(ra, dec, sRa, sDec, radiusDeg)` is true iff the
  * object at (ra, dec) lies within `radiusDeg` of the sample center
  * (sRa, sDec) — all degrees. Null on any null input.
  *
  * This is the predicate form of the cone join: written as a join
  * condition (`catalog.join(samples, ConeContainsFn.coneContains(...))`)
  * Spark can only execute it as a nested-loop theta join; the planned
  * cone join is [[graft.plans.SkyJoin.bandJoin]]. */
case class ConeContains(ra: Expression, dec: Expression,
                        sRa: Expression, sDec: Expression,
                        radiusDeg: Expression)
    extends Expression with Predicate {

  override def children: Seq[Expression] = Seq(ra, dec, sRa, sDec, radiusDeg)
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cone_contains requires five double arguments, got ${children.map(_.dataType)}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val Seq(r, d, sr, sd, rad) = vs.map(_.asInstanceOf[Double])
      ConeContainsKernel.sepDeg(r, d, sr, sd) <= rad
    }
  }

  /** Generated stage evaluates the children inline and calls the
    * shared static kernel — identical results to eval by
    * construction (same pattern as the sketch kernels). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val nullTerms = evals.map(_.isNull.toString).filterNot(_ == "false")
    val anyNull = if (nullTerms.isEmpty) "false" else nullTerms.mkString(" || ")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.ConeContainsKernel.sepDeg(
            ${evals(0).value}, ${evals(1).value},
            ${evals(2).value}, ${evals(3).value}) <= ${evals(4).value};
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ConeContains =
    ConeContains(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4))
}

object ConeContainsFn {
  def coneContains(ra: Column, dec: Column, sRa: Column, sDec: Column,
                   radiusDeg: Column): Column =
    graftbridge.toColumn(ConeContains(
      graftbridge.toExpression(ra), graftbridge.toExpression(dec),
      graftbridge.toExpression(sRa), graftbridge.toExpression(sDec),
      graftbridge.toExpression(radiusDeg)))
}
