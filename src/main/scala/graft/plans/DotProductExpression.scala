package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression computing the dot product of two
  * `array<float|double>` columns in double precision — the projection
  * primitive behind [[graft.ann.Pca]] (proj_j = v·w_j − m·w_j).
  *
  * Same motivation and null semantics as its sibling
  * [[CosineSimilarityExpression]] (one fused codegen'd loop; null array,
  * length mismatch, or null element → null), minus the normalization:
  * the zero vector dots to 0.0 naturally. Parity with the declarative
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` form is asserted in
  * PlanExprSpec.
  */
case class DotProductExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString(10)}, ${right.dataType.simpleString(10)}")

  private def isFloat(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xf = isFloat(left); val yf = isFloat(right)
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX = if (isFloat(left)) "getFloat" else "getDouble"
    val getY = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ((double) $x.$getX($i)) * ((double) $y.$getY($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_product"
}

object DotProductExpression {

  /** Column API (the function comes from [[graft.GraftExtensions]]). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_product", a, b)
}
