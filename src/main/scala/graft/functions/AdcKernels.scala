package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Fused candidate-sweep kernels (r15) — the [[Sq8Adc]] follow-through
  * for the two remaining interpreted-HOF inner loops on ANN hot paths.
  * Both replace `aggregate(zip_with(...))` compositions whose
  * per-element interpreter overhead dominated the actual arithmetic
  * (the bench's JIT-attribution instrument named this class: the HOF
  * eval path is both slow AND a C2 profile magnet in suite context).
  * Arithmetic is identical operation-for-operation in ascending index
  * order, so every oracle transfers unchanged.
  */
object AdcKernels {

  /** `pq_adc(codes, lut)` = Σᵢ lut(i)(codes(i)) — the PQ asymmetric-
    * distance table sweep (8 lookups/row): ONE definition feeds every
    * PQ consumer (offline q58/q60/q152, live mount, durable mount,
    * batch forms), exactly as the composed `Pq.adcCol` did. */
  def pqAdc(codes: Column, lut: Column): Column =
    CatalystBridge.column(PqAdcExpr(
      CatalystBridge.expression(codes), CatalystBridge.expression(lut)))

  /** `hamming_words(a, b)` = Σᵢ bit_count(a(i) ^ b(i)) — the BQ packed
    * sign-bit distance (1–2 words/row, where interpreter overhead was
    * nearly ALL of the cost). */
  def hammingWords(a: Column, b: Column): Column =
    CatalystBridge.column(HammingWordsExpr(
      CatalystBridge.expression(a), CatalystBridge.expression(b)))

  /** The per-row loop of [[PqAdcExpr]]: Σᵢ lut(i)(codes(i)) over the
    * shorter of the two, in index order. The expression's interpreted
    * path and the driver-side probes call it; its generated code is the
    * same loop. */
  def pqAdcRow(codes: ArrayData, lut: ArrayData): Double = {
    val n = math.min(codes.numElements(), lut.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += lut.getArray(i).getDouble(codes.getInt(i))
      i += 1
    }
    acc
  }

  /** The per-row loop of [[HammingWordsExpr]]: Σᵢ bit_count(a(i) ^ b(i))
    * over the shorter of the two, shared as [[pqAdcRow]] is. */
  def hammingRow(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  /** `l2sq_fd(x, m)` = Σᵢ ((double) x(i) − m(i))² over a FLOAT vector
    * and a DOUBLE centroid — the Lloyd-assignment inner loop (n×k×dim
    * per round, q80/q104/q111/q114's argmin). [[VectorDistance]] covers
    * the float×float case; centroids are double-precision running
    * means, so the k-means family needed its own fused form. */
  def l2sqFD(x: Column, m: Column): Column =
    CatalystBridge.column(L2sqFDExpr(
      CatalystBridge.expression(x), CatalystBridge.expression(m)))

  /** `dot_dd(a, b)` over two DOUBLE arrays — the PCA power-iteration
    * projection (q121's per-row xc·v against the round's literal
    * vector; the centered corpus is double-precision, so the float
    * [[VectorDistance]] "dot" doesn't apply). */
  def dotDD(a: Column, b: Column): Column =
    CatalystBridge.column(DotDDExpr(
      CatalystBridge.expression(a), CatalystBridge.expression(b)))
}

case class PqAdcExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int>, array<array<double>>), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pq_adc"

  override def nullSafeEval(c: Any, l: Any): Any =
    AdcKernels.pqAdcRow(c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""int $n = $c.numElements() < $l.numElements()
         |    ? $c.numElements() : $l.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $l.getArray($i).getDouble($c.getInt($i));
         |}
         |${ev.value} = $acc;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class HammingWordsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "hamming_words"

  override def nullSafeEval(a: Any, b: Any): Any =
    AdcKernels.hammingRow(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""int $n = $a.numElements() < $b.numElements()
         |    ? $a.numElements() : $b.numElements();
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $acc;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class L2sqFDExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.FloatType, _),
            ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<double>), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "l2sq_fd"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), m.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - m.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""int $n = $a.numElements() < $b.numElements()
         |    ? $a.numElements() : $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class DotDDExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_dd"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""int $n = $a.numElements() < $b.numElements()
         |    ? $a.numElements() : $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
