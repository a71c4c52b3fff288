package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen distance kernel — the perf upgrade over the
  * `zip_with`+`aggregate` composition (SURVEY §4/§7: "custom codegen
  * `Expression` only as perf upgrade").
  *
  * The composed form materializes an intermediate array per row pair and
  * walks it through the higher-order-function interpreter; this Expression
  * generates a single fused loop over the two `ArrayData` buffers inside
  * whole-stage codegen — no allocation, no virtual calls in the hot loop.
  * On the 2k×2k sf0.1 pairwise-cosine join this is the difference between
  * an allocation-bound and a FLOP-bound inner loop.
  *
  * Accumulation order and widening (float32 element → double accumulate,
  * ascending index) are IDENTICAL to VectorFunctions' composed kernels, so
  * results are bit-identical and the DuckDB oracles transfer unchanged.
  *
  * Metrics: "l2sq" (squared Euclidean — hnswlib 'l2', no sqrt), "cos"
  * (cosine similarity), "dot" (inner product; ip distance = 1 − dot).
  */
case class VectorDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {

  require(VectorDistance.Metrics.contains(metric),
    s"unknown metric '$metric' (expected ${VectorDistance.Metrics.mkString(" | ")})")

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = s"vec_$metric"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorDistance.eval(metric, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val header =
        s"""int $n = $a.numElements() < $b.numElements()
           |    ? $a.numElements() : $b.numElements();""".stripMargin
      metric match {
        case "l2sq" =>
          val acc = ctx.freshName("acc")
          val d = ctx.freshName("d")
          s"""$header
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
             |  $acc += $d * $d;
             |}
             |${ev.value} = $acc;""".stripMargin
        case "dot" =>
          val acc = ctx.freshName("acc")
          s"""$header
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
             |}
             |${ev.value} = $acc;""".stripMargin
        case "cos" =>
          val d = ctx.freshName("d")
          val na = ctx.freshName("na")
          val nb = ctx.freshName("nb")
          val xv = ctx.freshName("xv")
          val yv = ctx.freshName("yv")
          val den = ctx.freshName("den")
          s"""$header
             |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $xv = (double) $a.getFloat($i);
             |  double $yv = (double) $b.getFloat($i);
             |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
             |}
             |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
             |${ev.value} = $den == 0.0 ? 0.0 : $d / $den;
             |if (Double.isNaN(${ev.value})) ${ev.value} = 0.0;""".stripMargin
      }
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDistance {

  val Metrics: Set[String] = Set("l2sq", "dot", "cos")

  /** The interpreted kernel: the per-row loops below over the common
    * prefix of the two arrays, float32 elements widened to double in
    * ascending index order, the same arithmetic as the generated code.
    * Catalyst's interpreted path calls this, and the driver snapshot
    * ([[graft.store.LiveSnapshot]]) calls the same loops on its flat
    * vector array, so a driver-side score is bit-equal to the one a Spark
    * plan computes. */
  def eval(metric: String, x: ArrayData, y: ArrayData): Double = {
    val xs = x.toFloatArray()
    val ys = y.toFloatArray()
    val n = math.min(xs.length, ys.length)
    metric match {
      case "l2sq" => l2sqRow(xs, 0, ys, 0, n)
      case "dot" => dotRow(xs, 0, ys, 0, n)
      case "cos" => cosine(dotRow(xs, 0, ys, 0, n), sumSqRow(xs, 0, n), sumSqRow(ys, 0, n))
    }
  }

  /** Σ (x(xo+i) − y(yo+i))² for i < n, in ascending i. */
  def l2sqRow(x: Array[Float], xo: Int, y: Array[Float], yo: Int, n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x(xo + i).toDouble - y(yo + i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  /** Σ x(xo+i) · y(yo+i) for i < n, in ascending i. */
  def dotRow(x: Array[Float], xo: Int, y: Array[Float], yo: Int, n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x(xo + i).toDouble * y(yo + i).toDouble; i += 1
    }
    acc
  }

  /** Σ x(xo+i)² for i < n, in ascending i: a cosine norm's sum, the same
    * sequence of additions as the fused loop's own accumulator, so a row's
    * sum may be taken once and reused for every query of its length. */
  def sumSqRow(x: Array[Float], xo: Int, n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = x(xo + i).toDouble
      acc += v * v; i += 1
    }
    acc
  }

  /** The cosine of x's slice [xo, xo + xn) and `q` over their common
    * prefix, given `xss` = Σ x² over the whole slice and `qss` = Σ q² over
    * the whole of q (taken once per row and once per query): a prefix
    * shorter than either is summed again, so the result is [[eval]]'s
    * bit for bit whatever the two lengths. */
  def cosRow(x: Array[Float], xo: Int, xn: Int, xss: Double,
             q: Array[Float], qss: Double): Double = {
    val n = math.min(xn, q.length)
    cosine(dotRow(x, xo, q, 0, n),
      if (n == xn) xss else sumSqRow(x, xo, n),
      if (n == q.length) qss else sumSqRow(q, 0, n))
  }

  /** Cosine similarity from the dot product and the two sums of squares.
    * A zero vector → similarity 0, never NaN (NaN sorts above every real
    * score in Spark DESC and would hijack top-k). The same guard covers
    * non-finite inputs: an Infinity component makes d/den NaN (Inf/Inf) —
    * map that to 0 too, so one corrupt row can never become every query's
    * permanent #1 hit. */
  def cosine(d: Double, na: Double, nb: Double): Double = {
    val den = math.sqrt(na) * math.sqrt(nb)
    val r = if (den == 0.0) 0.0 else d / den
    if (r.isNaN) 0.0 else r
  }

  private def make(metric: String)(a: Column, b: Column): Column =
    CatalystBridge.column(VectorDistance(
      CatalystBridge.expression(a), CatalystBridge.expression(b), metric))

  def l2sq(a: Column, b: Column): Column = make("l2sq")(a, b)
  def dot(a: Column, b: Column): Column = make("dot")(a, b)
  def cosineSim(a: Column, b: Column): Column = make("cos")(a, b)

  /** SQL registration: `vec_l2sq(a,b)`, `vec_dot(a,b)`, `vec_cos(a,b)` —
    * the engine's scalar-function surface for `spark.sql(...)` users. */
  def register(spark: SparkSession): Unit =
    Metrics.foreach { m =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        s"vec_$m", exprs => VectorDistance(exprs(0), exprs(1), m), "builtin")
    }
}
