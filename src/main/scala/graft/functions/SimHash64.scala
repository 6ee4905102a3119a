package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native codegen'd 64-bit SimHash of a shingle array: each non-null
  * element votes ±1 on every bit of its `Md5Half.long64` (the leading 8 md5
  * bytes), and a bit is set when its vote total is > 0 (a tie leaves it 0).
  * The same value as exploding the array, summing the 64 votes per document
  * in a grouped aggregate and folding them back with 64 `when` terms — the
  * formulation this replaces — computed in one pass per row, with no
  * explode, no shuffle and no aggregate. Callers pass a DISTINCT shingle
  * array (duplicates would vote twice) and split the result into the 32-bit
  * `sim_hi`/`sim_lo` halves. An empty array hashes to 0; a null one to null.
  * FunctionsSpec asserts equality with the aggregate formulation.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(a: Any): Any = SimHash64.of(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.of($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def of(sh: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < sh.numElements()) {
      if (!sh.isNullAt(i)) {
        val h = Md5Half.long64(sh.getUTF8String(i))
        var b = 0
        while (b < 64) { votes(b) += (((h >>> b) & 1L).toInt << 1) - 1; b += 1 }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
}
