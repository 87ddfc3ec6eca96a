package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Sign-LSH band keys for a dense embedding as ONE custom Catalyst
  * expression: `bands` keys, each packing `bits` hyperplane sign bits
  * (bit j of band l = [v · plane_{l·bits+j} ≥ 0]).
  *
  * This is the sketch half of the composed semantic-dedup scale path
  * (candidates = band-key equi-join, verify = exact cosine, cluster =
  * ConnectedComponents). A single fused loop computes all
  * bands·bits·dim multiply-adds per row — the higher-order-function
  * formulation would dispatch an interpreted lambda per element
  * (the 374s→4s q44 lesson, see NGrams.scala).
  *
  * Determinism contract: the dot products accumulate left-to-right in
  * double, matching the oracle's [[VectorExprs.dotSql]] replay; plane
  * entries are 3-decimal quantized so both engines parse identical
  * doubles, and SemanticClusterSpec checks the corpus-wide minimum
  * |dot| margin (~1e-6, observed) is orders of magnitude above any
  * float summation-order noise (~1e-13), so the sign bits are
  * bit-stable across engines.
  */
case class SignBands(child: Expression, planes: Array[Double],
    bands: Int, bits: Int) extends UnaryExpression {

  private val dim = planes.length / (bands * bits)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      if (planes.length == bands * bits * dim && dim > 0)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"planes length ${planes.length} not divisible into $bands bands x $bits bits")
    case other =>
      TypeCheckResult.TypeCheckFailure(s"signBands requires array<float|double>, got $other")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = math.min(arr.numElements(), dim)
    val keys = new Array[Int](bands)
    var l = 0
    while (l < bands) {
      var key = 0
      var j = 0
      while (j < bits) {
        val base = (l * bits + j) * dim
        var dot = 0.0
        var i = 0
        while (i < m) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          dot += x * planes(base + i)
          i += 1
        }
        if (dot >= 0) key |= 1 << j
        j += 1
      }
      keys(l) = key
      l += 1
    }
    new GenericArrayData(keys)
  }

  /** Whole-stage codegen: same fused loop in Java, planes passed as a
    * referenced double[] — identical arithmetic order either path. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    val get =
      if (isFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
      else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.freshName("m")
      val keys = ctx.freshName("keys")
      val l = ctx.freshName("l")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val key = ctx.freshName("key")
      val base = ctx.freshName("base")
      val dot = ctx.freshName("dot")
      s"""
         |int $m = java.lang.Math.min($a.numElements(), $dim);
         |int[] $keys = new int[$bands];
         |for (int $l = 0; $l < $bands; $l++) {
         |  int $key = 0;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    int $base = ($l * $bits + $j) * $dim;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $m; $i++) {
         |      $dot += ${get(a, i)} * $planesRef[$base + $i];
         |    }
         |    if ($dot >= 0) $key |= 1 << $j;
         |  }
         |  $keys[$l] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignBands =
    copy(child = newChild)
}

object SignBands {
  def signBands(v: Column, planes: Seq[Seq[Double]], bands: Int, bits: Int): Column =
    graftbridge.toColumn(
      SignBands(graftbridge.toExpression(v), planes.flatten.toArray, bands, bits))
}
