package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** The IVF probe cells of one query vector: the `nprobe` cells whose
  * unit centroids have the largest dot product with it, most similar
  * first and the lower cell first on ties — the order of a row_number
  * window over (similarity desc nulls last, cell), computed per row.
  *
  * Scores are [[FloatVecDot]]'s (the same fold, so the same doubles as
  * `dot(qe, typedlit(centroid))`); they compare as SQL ordering does
  * (NaN above every number, -0.0 equal to 0.0), and a NULL score (a
  * null vector or a null element) ranks below every number.
  *
  * The centroids are a field, not literal children: plan strings print
  * `ivf_probe_cells(qe, 16 cells, nprobe 4)` instead of k × dim doubles,
  * which the SQL-execution start event and every adaptive plan update
  * of a probe would otherwise render again.
  */
case class IvfProbeCells(child: Expression, unitCentroids: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression {

  // Array fields default to REFERENCE equality, which would defeat
  // canonicalization and exchange reuse for value-equal instances
  override def equals(o: Any): Boolean = o match {
    case e: IvfProbeCells =>
      child == e.child && nprobe == e.nprobe &&
        java.util.Arrays.deepEquals(
          unitCentroids.asInstanceOf[Array[AnyRef]], e.unitCentroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    (31 * child.hashCode + java.util.Arrays.deepHashCode(
      unitCentroids.asInstanceOf[Array[AnyRef]])) * 31 + nprobe

  override def prettyName: String = "ivf_probe_cells"
  override def toString: String =
    s"$prettyName($child, ${unitCentroids.length} cells, nprobe $nprobe)"

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // a null vector scores NULL against every cell: all tie, lowest cells win
  override def nullable: Boolean = false
  override def foldable: Boolean = child.foldable

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"IvfProbeCells requires array<float|double>, got $t")
  }

  @transient private lazy val centroidData: Array[ArrayData] =
    unitCentroids.map(c => UnsafeArrayData.fromPrimitiveArray(c): ArrayData)

  /** The probe cells of `v` (null allowed). */
  def cells(v: ArrayData): ArrayData = {
    val sims: Array[java.lang.Double] = centroidData.map(c =>
      if (v == null) null else FloatVecDot.dotOrNull(v, c, isFloat, false))
    val order = sims.indices.sortWith { (a, b) =>
      val c = (sims(a), sims(b)) match {
        case (null, null) => 0
        case (null, _) => 1
        case (_, null) => -1
        case (x, y) => -SQLOrderingUtil.compareDoubles(x, y)
      }
      c < 0 || (c == 0 && a < b)
    }
    UnsafeArrayData.fromPrimitiveArray(order.take(math.max(nprobe, 0)).toArray)
  }

  override def eval(input: InternalRow): Any =
    cells(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val self = ctx.addReferenceObj("ivfProbeCells", this)
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $self.cells(${v.isNull} ? null : ${v.value});""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbeCells =
    copy(child = newChild)
}
