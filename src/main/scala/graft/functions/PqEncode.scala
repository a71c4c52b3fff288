package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Product-quantization encoder: L2-normalize the vector, split it into
  * `M` contiguous subspaces, and emit per subspace the index of the
  * nearest codebook centroid (squared L2, ties to the lowest code) —
  * one `array<int>` of length `M` per row.
  *
  * This is the distributed half of PQ (the codebook is trained once,
  * driver-side, over a bounded sample — see `Pq.buildPqIndex`) and the
  * whole point of the technique at 100 TB: the corpus compresses from
  * `dim × 4` bytes to `M` small ints per vector (64-dim float32 → 8
  * codes: 32× less data on the ADC scan path), and encoding is a narrow
  * codegen'd map — the codebook rides inside the expression, no join,
  * no shuffle, embarrassingly parallel (same shape as [[NearestCell]]).
  *
  * Normalizing first makes squared L2 on the reconstruction a monotone
  * proxy for cosine (‖a−b‖² = 2 − 2·cos on unit vectors), so one
  * codebook serves the engine's cosine ranking. A zero vector is left
  * unnormalized (all-zero subvectors still encode deterministically).
  *
  * Codebook layout: `codebook(m)(k)(j)` = coefficient `j` of centroid
  * `k` of subspace `m`; subspace `m` covers dims `[m·subDim, (m+1)·subDim)`,
  * with out-of-range dims (dim not divisible by M) read as 0.
  */
case class PqEncode(child: Expression, codebook: Seq[Seq[Seq[Float]]])
    extends UnaryExpression {

  require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
    "codebook needs at least one centroid per subspace")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> input, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = s"pq_encode_${codebook.length}"

  // primitive [sub][code][dim] matrix for the hot loop
  @transient private lazy val mat: Array[Array[Array[Float]]] =
    codebook.map(_.map(_.toArray).toArray).toArray

  /** One kernel definition shared by eval and codegen (value-bridge, the
    * [[MinhashArray]] pattern). */
  def encode(arr: ArrayData): GenericArrayData =
    new GenericArrayData(PqEncode.encode(arr.toFloatArray(), mat))

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val self = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.encode($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  def apply(vec: Column, codebook: Seq[Seq[Seq[Float]]]): Column =
    CatalystBridge.column(
      PqEncode(CatalystBridge.expression(vec), codebook))

  /** THE scalar kernel: one vector's codes against a [sub][code][dim]
    * codebook, the loop eval, codegen and driver-side builds all run. */
  def encode(v0: Array[Float], mat: Array[Array[Array[Float]]]): Array[Int] = {
    val n = v0.length
    val subDim = mat(0)(0).length
    val v = new Array[Double](n)
    var i = 0
    var sq = 0.0
    while (i < n) {
      v(i) = v0(i).toDouble
      sq += v(i) * v(i)
      i += 1
    }
    if (sq > 0) {
      val inv = 1.0 / math.sqrt(sq)
      i = 0
      while (i < n) { v(i) *= inv; i += 1 }
    }
    val codes = new Array[Int](mat.length)
    var m = 0
    while (m < mat.length) {
      val off = m * subDim
      val cb = mat(m)
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cb.length) {
        val ct = cb(k)
        var acc = 0.0
        var j = 0
        while (j < subDim) {
          val x = if (off + j < n) v(off + j) else 0.0
          val d = x - ct(j).toDouble
          acc += d * d
          j += 1
        }
        if (acc < bestD) { bestD = acc; best = k }
        k += 1
      }
      codes(m) = best
      m += 1
    }
    codes
  }
}
