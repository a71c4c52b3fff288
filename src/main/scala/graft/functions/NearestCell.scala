package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** IVF coarse-quantizer assignment: the index of the nearest centroid
  * (squared L2, ties to the lowest cell index) in one fused pass.
  *
  * This is the distributed half of the quantizer: centroids are trained
  * once (driver-side Lloyd's over a bounded sample — see
  * `Ann.buildIvfIndex`) and ride along baked into the expression, so
  * assignment is a narrow map over the corpus — no join against a
  * centroid table, no shuffle, no MLlib pipeline overhead. At 100 TB this
  * is exactly the shape you want: scan → argmin(k·d flops/row) → write,
  * embarrassingly parallel.
  *
  * Distances accumulate in double from float inputs, matching the probe
  * path's centroid-ranking arithmetic (`Ann.ivfProbe`), so a vector equal
  * to a centroid assigns to it bit-exactly.
  */
case class NearestCell(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression {

  require(centroids.nonEmpty, "at least one centroid required")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> input, got ${other.sql}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = s"nearest_cell_${centroids.length}"

  // primitive [cell][dim] matrix for the hot loop
  @transient private lazy val mat: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val v = new Array[Float](n)
    var i = 0
    while (i < n) { v(i) = arr.getFloat(i); i += 1 }
    NearestCell.nearest(v, mat)
  }

  /** Same loop inside whole-stage codegen; the centroid matrix rides along
    * as a reference object. Strict `<` keeps the lowest-index tiebreak. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val matRef = ctx.addReferenceObj("ivfCentroids", mat, "float[][]")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val k = ctx.freshName("k")
      val ct = ctx.freshName("ct")
      val lim = ctx.freshName("lim")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""int $n = $input.numElements();
         |float[] $v = new float[$n];
         |for (int $k = 0; $k < $n; $k++) { $v[$k] = $input.getFloat($k); }
         |int $best = 0;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $matRef.length; $c++) {
         |  float[] $ct = $matRef[$c];
         |  int $lim = $n < $ct.length ? $n : $ct.length;
         |  double $acc = 0.0;
         |  for (int $k = 0; $k < $lim; $k++) {
         |    double $d = (double) $v[$k] - (double) $ct[$k];
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |}
         |${ev.value} = $best;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCell {
  def apply(vec: Column, centroids: Seq[Seq[Float]]): Column =
    CatalystBridge.column(
      NearestCell(CatalystBridge.expression(vec), centroids))

  /** THE scalar kernel: the nearest centroid of one vector, the loop the
    * interpreted eval runs and driver-side builds call (the codegen path
    * emits the same loop in Java). */
  def nearest(v: Array[Float], mat: Array[Array[Float]]): Int = {
    val n = v.length
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < mat.length) {
      val ct = mat(c)
      val lim = math.min(n, ct.length)
      var acc = 0.0
      var k = 0
      while (k < lim) {
        val d = v(k).toDouble - ct(k).toDouble
        acc += d * d
        k += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }
}
