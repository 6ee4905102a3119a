package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product of two `array<double>` columns.
  *
  * The fold runs left-to-right in double — bit-identical to the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` higher-order-function formulation
  * it replaces (and to DuckDB's `list_reduce` oracle fragment), but compiled
  * into the whole-stage-codegen loop instead of interpreted per element.
  * Higher-order functions instantiate the lambda interpreter per row-element;
  * on a 64-dim embedding that is ~128 boxed evals per pair, which dominates the
  * brute-force similarity scan. This expression is one tight `double` loop.
  *
  * Null semantics match `zip_with`/`aggregate`: mismatched lengths or a null
  * element yield null (zip_with pads the shorter side with null; null then
  * poisons the sum).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The fold itself, for interpreted evaluation and for kernels that score
    * many pairs per row (`NearestCells`): null on a length mismatch or a
    * null element. */
  def fold(x: ArrayData, y: ArrayData): java.lang.Double = {
    if (x.numElements() != y.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}
