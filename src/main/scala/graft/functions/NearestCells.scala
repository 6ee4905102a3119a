package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructType}

/** Native codegen'd IVF coarse assignment: the `k` nearest centroids of one
  * vector, as their `cent_id`s, best first.
  *
  * `graft_nearest_cells(v, norm, cents, k)` takes the vector `v`
  * (`array<double>`), its `norm`, the whole centroid set as one
  * `array<struct<cent_id: bigint, cv: array<double>, cnorm: double>>` and a
  * literal `k >= 1`. Each centroid scores `csim = dot(v, cv) / (norm * cnorm)`
  * with `graft_dot`'s left-to-right fold and Spark's `/` (a zero divisor is
  * a DIVIDE_BY_ZERO error under ANSI mode, null otherwise). The result
  * is the first `min(k, K)` centroids in the order of the window it
  * replaces, `row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC,
  * cent_id)`: Spark's double ordering, so NaN sorts above +∞ and -0.0 ties
  * 0.0; null scores last; ties to the smaller `cent_id` (a null id first).
  * A null vector or norm scores null against every centroid and so keeps
  * the smallest ids, as the window does. The centroid order in `cents`
  * does not matter. A null `cents` gives null; an empty one an empty array.
  * GraftProps checks equality with the window formulation.
  */
case class NearestCells(v: Expression, norm: Expression, cents: Expression,
    k: Expression, failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends Expression {

  override def children: Seq[Expression] = Seq(v, norm, cents, k)
  override def flatArguments: Iterator[Any] = children.iterator
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = {
    def doubles(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(StructType(Array(id, cv, cn)), _) =>
        id.dataType == LongType && doubles(cv.dataType) && cn.dataType == DoubleType
      case _ => false
    }
    if (doubles(v.dataType) && norm.dataType == DoubleType && centsOk &&
        k.foldable && k.dataType == IntegerType &&
        Option(k.eval()).exists(_.asInstanceOf[Int] >= 1))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, double, " +
        "array<struct<cent_id: bigint, cv: array<double>, cnorm: double>>, " +
        s"a literal int k >= 1), got (${children.map(_.dataType.catalogString).mkString(", ")})")
  }

  private lazy val kValue: Int = k.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val cs = cents.eval(input)
    if (cs == null) null
    else {
      val x = norm.eval(input)
      NearestCells.of(v.eval(input).asInstanceOf[ArrayData], x == null,
        if (x == null) 0.0 else x.asInstanceOf[Double],
        cs.asInstanceOf[ArrayData], kValue, failOnError)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vg = v.genCode(ctx)
    val ng = norm.genCode(ctx)
    val cg = cents.genCode(ctx)
    ev.copy(code = code"""
      |${vg.code}
      |${ng.code}
      |${cg.code}
      |boolean ${ev.isNull} = ${cg.isNull};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.NearestCells.of(
      |    ${vg.isNull} ? null : ${vg.value}, ${ng.isNull}, ${ng.value},
      |    ${cg.value}, $kValue, $failOnError);
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(v = newChildren(0), norm = newChildren(1), cents = newChildren(2),
      k = newChildren(3))
}

object NearestCells {

  /** The `k` best centroid ids of `v` (null: no vector) against `cents`.
    * One pass over the centroids keeps the best `k` seen so far in an
    * insertion-sorted buffer: O(K·k) per vector, no allocation per centroid. */
  def of(v: ArrayData, normNull: Boolean, norm: Double, cents: ArrayData,
      k: Int, failOnError: Boolean): ArrayData = {
    val n = math.min(k, cents.numElements())
    val ids = new Array[Long](n)
    val idNull = new Array[Boolean](n)
    val sims = new Array[Double](n)
    val simNull = new Array[Boolean](n)
    var filled = 0
    var c = 0
    while (c < cents.numElements()) {
      val cent = cents.getStruct(c, 3)
      val cNull = cent.isNullAt(0)
      val cid = if (cNull) 0L else cent.getLong(0)
      // csim = dot(v, cv) / (norm * cnorm), null wherever Spark's is null
      var sNull = true
      var s = 0.0
      if (!normNull && !cent.isNullAt(2)) {
        val den = norm * cent.getDouble(2)
        val d = if (v == null || cent.isNullAt(1)) null
          else DotProduct.fold(v, cent.getArray(1))
        if (d != null) {
          if (den == 0.0) {
            if (failOnError) divideByZero(d.doubleValue)
          } else {
            sNull = false
            s = d.doubleValue / den
          }
        }
      }
      // insertion: walk up from the end while the candidate ranks first
      var i = if (filled < n) filled else n - 1
      if (filled == n && n > 0 && !before(sNull, s, cNull, cid,
          simNull(i), sims(i), idNull(i), ids(i))) i = -1
      if (i >= 0) {
        while (i > 0 && before(sNull, s, cNull, cid,
            simNull(i - 1), sims(i - 1), idNull(i - 1), ids(i - 1))) {
          simNull(i) = simNull(i - 1); sims(i) = sims(i - 1)
          idNull(i) = idNull(i - 1); ids(i) = ids(i - 1)
          i -= 1
        }
        simNull(i) = sNull; sims(i) = s; idNull(i) = cNull; ids(i) = cid
        if (filled < n) filled += 1
      }
      c += 1
    }
    new GenericArrayData(Array.tabulate[Any](n)(j =>
      if (idNull(j)) null else ids(j)))
  }

  /** Whether score (aNull, a) with id (aIdNull, aId) ranks strictly before
    * (b...): csim descending under Spark's double ordering with nulls last,
    * then cent_id ascending with nulls first. */
  private def before(aNull: Boolean, a: Double, aIdNull: Boolean, aId: Long,
      bNull: Boolean, b: Double, bIdNull: Boolean, bId: Long): Boolean = {
    val bySim =
      if (aNull || bNull) java.lang.Boolean.compare(aNull, bNull)
      else if (a == b) 0 // -0.0 == 0.0
      else -java.lang.Double.compare(a, b) // NaN above +∞
    if (bySim != 0) bySim < 0
    else if (aIdNull || bIdNull) aIdNull && !bIdNull
    else aId < bId
  }

  /** Raises the DIVIDE_BY_ZERO error ANSI `/` raises, through `/` itself. */
  private def divideByZero(d: Double): Unit =
    Divide(Literal(d), Literal(0.0), EvalMode.ANSI).eval()
}
