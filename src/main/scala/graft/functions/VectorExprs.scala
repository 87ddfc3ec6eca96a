package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Cosine similarity over two numeric arrays as ONE custom Catalyst
  * expression: a single tight JVM loop accumulating dot product and
  * both norms.
  *
  * Why not the higher-order-function composition (zip_with +
  * aggregate, kept in [[Vectors]])? HOFs evaluate their lambda via
  * the interpreter per element — benchmarking showed the all-pairs
  * similarity query spending 83 s at sf0.1 in lambda dispatch. This
  * expression does the identical arithmetic (same element order, same
  * IEEE operation sequence — bit-identical results, which the DuckDB
  * oracle requires) at memory-bandwidth speed.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
        if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"cosine requires array<float|double>, got $other")
  }

  private def elem(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val aF = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val bF = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, aF); val y = elem(b, i, bF)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // same operation shape as dot/(sqrt(na)*sqrt(nb)) used by the
    // HOF formulation and the DuckDB oracle
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Whole-stage codegen: emits the same fused loop in Java so the
    * expression stays inside the generated stage (no per-row
    * interpreter dispatch). Arithmetic order matches nullSafeEval
    * exactly — results are bit-identical either path. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (left.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    val bGet = if (right.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${aGet(a, i)};
         |  double $y = ${bGet(b, i)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  def cosineFast(a: Column, b: Column): Column =
    graftbridge.toColumn(CosineSimilarity(
      graftbridge.toExpression(a), graftbridge.toExpression(b)))

  // ---- DuckDB replay (code-generated oracle SQL) -------------------
  //
  // `list_sum` over the element products adds left to right in double,
  // as the kernel's loop does, so every oracle that states a cosine or
  // a plane's dot product through these gets the kernel's IEEE result.

  /** SQL for the dot product of two numeric lists. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  private def sumSqSql(a: String): String =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** SQL for [[cosineFast]]: dot / (sqrt(na) * sqrt(nb)), the kernel's
    * operation shape. */
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${sumSqSql(a)}) * sqrt(${sumSqSql(b)})))"

  /** A constant vector (a codeword, a hyperplane) as a list literal of
    * 3-decimal values — the quantization both engines parse to the same
    * doubles — with a `.` decimal point whatever the JVM's locale. */
  def listSql(v: Seq[Double]): String =
    v.map(x => "%.3f".formatLocal(java.util.Locale.ROOT, x)).mkString("[", ", ", "]")
}
