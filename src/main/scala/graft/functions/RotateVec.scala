package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Orthogonal-rotation applier: y = R·x over an `array<float>` column,
  * with the rotation matrix riding INSIDE the expression (the
  * [[PqEncode]]/[[NearestCell]] shape — no join, no shuffle, narrow
  * codegen'd map). The distributed half of OPQ-style compression
  * (`Opq.buildOpqIndex`): the rotation is trained once, driver-side,
  * over a bounded sample; applying it corpus-wide is one pass of this
  * expression feeding the codebook trainer / encoder. Accumulates each
  * output coordinate in double, emits float (the corpus element type).
  *
  * Rows shorter than the matrix read as zero-padded; output length is
  * always the matrix's row count (a rotation is square in practice, but
  * nothing here requires the input length to match).
  */
case class RotateVec(child: Expression, matrix: Seq[Seq[Float]])
    extends UnaryExpression {

  require(matrix.nonEmpty && matrix.forall(_.nonEmpty),
    "rotation matrix must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> input, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = s"rotate_vec_${matrix.length}"

  // primitive [row][col] matrix for the hot loop
  @transient private lazy val mat: Array[Array[Float]] =
    matrix.map(_.toArray).toArray

  /** One kernel definition shared by eval and codegen. */
  def rotate(arr: ArrayData): GenericArrayData =
    new GenericArrayData(RotateVec.rotate(arr.toFloatArray(), mat))

  override def nullSafeEval(input: Any): Any =
    rotate(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val self = ctx.addReferenceObj("rotateVec", this, classOf[RotateVec].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.rotate($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RotateVec {
  def apply(vec: Column, matrix: Seq[Seq[Float]]): Column =
    CatalystBridge.column(
      RotateVec(CatalystBridge.expression(vec), matrix))

  /** THE scalar kernel: R·x for one vector, the loop eval, codegen and
    * driver-side builds all run. */
  def rotate(x: Array[Float], mat: Array[Array[Float]]): Array[Float] = {
    val n = x.length
    val out = new Array[Float](mat.length)
    var r = 0
    while (r < mat.length) {
      val row = mat(r)
      var acc = 0.0
      var j = 0
      val m = math.min(n, row.length)
      while (j < m) { acc += row(j).toDouble * x(j).toDouble; j += 1 }
      out(r) = acc.toFloat
      r += 1
    }
    out
  }
}
