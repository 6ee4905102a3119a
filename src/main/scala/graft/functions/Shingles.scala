package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd word k-shingles of a token array — the same value as
  *
  * {{{
  *   when(size(toks) >= k,
  *     transform(sequence(0, size(toks) - k),
  *       i => concat_ws(" ", element_at(toks, i + 1), …, element_at(toks, i + k))))
  *     .otherwise(array())
  * }}}
  *
  * i.e. an empty array when `toks` is null or shorter than `k`, otherwise
  * one string per window with `concat_ws` semantics (a null token is
  * skipped together with its separator). `ArrayTransform` is
  * `CodegenFallback`: that formulation runs the lambda interpreter once per
  * shingle and re-evaluates `toks` once per `element_at`. This expression
  * reads the array once and joins each window directly. `k` must be a
  * foldable int ≥ 1. FunctionsSpec and GraftProps assert equality with
  * the lambda formulation.
  */
case class Shingles(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) if right.foldable && right.dataType == IntegerType &&
        Option(right.eval()).exists(_.asInstanceOf[Int] >= 1) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, foldable int >= 1), " +
        s"got (${left.dataType.catalogString}, ${right.sql})")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  private lazy val k: Int = right.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): Any =
    Shingles.of(left.eval(input).asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val toks = left.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${toks.code}
      |ArrayData ${ev.value} =
      |  graft.functions.Shingles.of(${toks.isNull} ? null : ${toks.value}, $k);
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Shingles {
  private val Empty = new GenericArrayData(Array.empty[Any])
  private val Space = UTF8String.fromString(" ")

  /** The k-shingles of `toks` (null ⇒ empty), each joined by the routine
    * `concat_ws` itself uses. */
  def of(toks: ArrayData, k: Int): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    if (n < k) return Empty
    val words = Array.tabulate(n)(i => if (toks.isNullAt(i)) null else toks.getUTF8String(i))
    new GenericArrayData(Array.tabulate[Any](n - k + 1)(s =>
      UTF8String.concatWs(Space, words.slice(s, s + k): _*)))
  }
}
